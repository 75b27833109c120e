"""Deduplication for training corpora ([EXT], SURVEY.md §2B).

Five dedup families, each chosen for its 100 TB shape:

* exact            — hash-aggregate on content; one shuffle on a 16-byte key.
* bag (normalized) — same, keyed on the order-insensitive bag-of-words hash.
* MinHash + LSH    — explode tokens → k minhashes per doc (one aggregate) →
                     band → self-join on (band, band_hash) → exact-Jaccard
                     verify on the candidates only. Pair count is driven by
                     collision rate, never |docs|² — the scale path.
* SimHash          — bit-vote fingerprint; near-dup = small Hamming distance;
                     banded join over bit-slices for candidate generation.
* n-gram Jaccard   — exact set similarity via the inverted-index join
                     (explode token → join on token → count intersections),
                     the classic way to compute pairwise Jaccard WITHOUT a
                     cross join.
* embedding cosine — exact threshold pairs (small-N baseline, oracled) and
                     the LSH-bucketed variant in llm/similarity.

Similarity domains are deliberately split by output shape:

* ORDER-INSENSITIVE duplicates (same bag of words) are detected by the
  LINEAR bag-fingerprint ops. On a small-vocabulary corpus, unigram-set
  similarity is a near-clique (~24% of ALL pairs ≥0.8 here) — any
  pair-emitting algorithm over it has inherently quadratic OUTPUT, so the
  engine never offers it as a pair query.
* SEQUENCE near-duplicates use 3-gram shingles, whose |vocab|³ space makes
  pair output sparse and the inverted-index/LSH joins selective.

MinHash banding math at scale: k=64 hashes, b=32 bands × r=2 rows → pair-
collision probability 1-(1-J²)³² ≈ 0.9999 at J=0.5, with disjoint shingle
sets (the overwhelming majority of pairs) colliding only by 64-bit hash
accident. Candidates are re-verified with EXACT Jaccard, so precision is
1.0 and the only approximation is the tiny recall gap (asserted ≥0.99 in
tests against the exact inverted-index query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_fanned, load_table
from emr_with_custom_metrics_spark.llm.text import shingle_hashes, tokens
from emr_with_custom_metrics_spark.plans import stage_memo
from emr_with_custom_metrics_spark.registry import register
from emr_with_custom_metrics_spark.zip_guard import install_in_worker

NUM_MINHASHES = 64
NUM_BANDS = 32  # rows per band r = 64/32 = 2 → recall 1-(1-J²)³² ≈ 0.9999 at J=0.5
JACCARD_THRESHOLD = 0.5
# 64-bit fingerprint, banded as 4 slices × 16 bits for the candidate join.
# Pigeonhole: Hamming ≤3 differing bits can dirty at most 3 of 4 slices, so
# every true pair collides on ≥1 exact 16-bit slice. 16-bit slices give 65 536
# buckets per slice — occupancy N/65536 per bucket vs N/256 with the old
# 32-bit/8-bit scheme, which went near-quadratic at 100× scale (VERDICT r01).
SIMHASH_BITS = 64
SIMHASH_SLICES = 4
SIMHASH_SLICE_BITS = SIMHASH_BITS // SIMHASH_SLICES
HAMMING_THRESHOLD = 3


def _token_sets(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks")
    )


def _shingle_sets(documents: DataFrame) -> DataFrame:
    """Distinct 3-gram shingle HASHES per doc.

    Hashes, not strings: every downstream explode/join/intersect runs on
    fixed-width longs (see text.shingle_hashes — Jaccard is preserved up to
    negligible 64-bit collision odds). Shingling is heavy per-row JVM work:
    callers pass a ``load_fanned`` relation so a narrow scan is spread
    over the cluster first."""
    return documents.select("doc_id", shingle_hashes(F.col("text")).alias("toks"))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS content_md5 FROM (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
    doc="Exact dedup keeping the lowest doc_id per identical content. "
    "Keyed on md5 so the shuffle carries 16-byte keys, not documents.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_md5")
    )
    return (
        d.groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_md5")
    )


@register(
    "dedup_bag_normalized",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(array_to_string(
             list_sort(list_distinct(string_split(text, ' '))), ' '))) AS BIGINT)
             AS n_bag_unique
    FROM documents
    """,
    doc="Order-insensitive dedup cardinality: distinct bag-of-words "
    "fingerprints vs raw docs (catches shuffled-token duplicates).",
)
def dedup_bag_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text"))))))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(bag).alias("n_bag_unique"),
    )


# ---------------------------------------------------------------------------
# Exact pairwise Jaccard via inverted-index join (no cross join)
# ---------------------------------------------------------------------------
_SHINGLE_JACCARD_PAIRS_ORACLE = """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE LEN(string_split(text, ' ')) >= 3),
    docs AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, LEN(toks) - 1)]) AS sh
      FROM w),
    sizes AS (SELECT doc_id, LEN(sh) AS n FROM docs),
    tok AS (SELECT doc_id, UNNEST(sh) AS s FROM docs),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id,
             (CAST(ROUND((c::DOUBLE / (sa.n + sb.n - c)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id)
    SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= {thr}
"""
# NOTE: inverted-index formulation (same as the engine's own plan) rather
# than all-pairs list_intersect — |A∩B| from the token self-join, |A∪B| =
# |A|+|B|−|A∩B|; integer counts → identical 6-dp rounding. Cut the
# driver-side oracle cost ~10× at sf0.01 (the all-pairs form intersected
# ~1000-element lists for every one of the 31k doc pairs).


def jaccard_pairs(documents: DataFrame, threshold: float) -> DataFrame:
    """All pairs with token-set Jaccard ≥ threshold, via the inverted-index
    join: |A∩B| from a self-join on exploded tokens, |A∪B| = |A|+|B|−|A∩B|.

    This is the right plan when token document-frequency is near-uniform
    and low — exactly the 3-gram-shingle regime (|vocab|³ key space; avg
    DF ~10 on this corpus): the join never materializes non-overlapping
    pairs and the count-aggregate carries no arrays. When the key
    distribution has hot stop tokens (natural-language unigrams), the
    shuffle skews on them — use :func:`jaccard_pairs_prefix`, which never
    lets high-DF tokens into the join. Both produce identical output
    (asserted in tests); the engine picks by corpus shape.
    """
    t = documents.select("doc_id", F.size("toks").alias("sz"), F.explode("toks").alias("token"))
    sizes = documents.select("doc_id", F.size("toks").alias("sz"))
    # Size-ratio prune at probe time: J ≥ t forces |A|,|B| within a factor
    # 1/t of each other — pairs outside the band never reach the aggregate.
    ratio = F.lit(1.0 / threshold)
    inter = (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") <= ratio * F.col("b.sz"))
            & (F.col("b.sz") <= ratio * F.col("a.sz")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"), "b_id")
        .select(
            "a_id",
            "b_id",
            (F.round((F.col("n_inter").cast("double")
                / (F.col("a_sz") + F.col("b_sz") - F.col("n_inter"))) * 1000000).cast("bigint") / 1000000.0).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_prefix(documents: DataFrame, threshold: float) -> DataFrame:
    """All pairs with token-set Jaccard ≥ threshold — EXACT, via prefix-
    filtered inverted-index candidates + exact verification (All-Pairs /
    PPJoin family, Bayardo et al. WWW'07; VERDICT r01 #5 stretch goal).

    The skew-robust path: candidate generation joins only each doc's
    PREFIX — its tokens ordered by ascending global document frequency,
    keeping the first ``|d| − ceil(t·|d|) + 1``. Two sets with J ≥ t must
    overlap by ``ceil(t·max(|A|,|B|))`` tokens, so they cannot avoid
    sharing one inside both prefixes (pigeonhole over a common total
    order). Rarest-first ordering means hot stop tokens NEVER become join
    keys — the 100 TB fix for natural-language token distributions, where
    the plain :func:`jaccard_pairs` shuffle skews onto "the"/"and" buckets.
    On near-uniform low-DF key spaces (shingles) the prefix machinery
    costs more than it saves (measured ~2× at sf0.1), so it is the
    documented alternative, not the default.

    Verification is exact: candidates re-attach both full token arrays and
    compute |A∩B| with ``array_intersect`` JVM-side — output is identical
    to the unpruned join (equality asserted in tests; same DuckDB oracle).
    """
    # Stage the shingle table ONCE (opt r15, guide §2.4): both the global-
    # DF aggregate and the per-doc ordering pass explode the same
    # (doc_id, toks) relation, and un-staged each re-ran the full scan +
    # tokenize + shingle-hash chain (measured ~1.7 s per pass at sf0.1 —
    # the single most expensive subtree in this query). One compact row
    # per doc (id + distinct 64-bit hashes), same persisted-signature
    # shape as per_doc below.
    documents = documents.localCheckpoint()
    tok = documents.select("doc_id", F.explode("toks").alias("token"))
    # Global DF per token, joined back so each doc can order its tokens
    # rarest-first. The DF table is vocabulary-sized; at corpus scale it
    # still fits the broadcast threshold long after documents don't.
    df_tok = tok.groupBy("token").agg(F.count("*").alias("df"))
    # ONE aggregate builds the per-doc DF-ordered token array; prefix is an
    # array slice, not a window — and because every downstream branch
    # (both candidate-join sides, both verify sides) sits on this same
    # hash(doc_id) exchange, Spark's ReusedExchange computes the scan +
    # tokenize + aggregate once instead of once per branch.
    # ceil with an epsilon so float noise (0.5·6 → 3.0000001) can't shorten
    # the prefix and silently drop true pairs.
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
    per_doc = (
        tok.join(F.broadcast(df_tok), "token")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "token"))).alias("ordered"))
        .select(
            "doc_id",
            F.transform("ordered", lambda s: s["token"]).alias("toks"),
            F.size("ordered").alias("sz"),
        )
        .withColumn("prefix", F.slice("toks", 1, prefix_len.cast("int")))
        # Materialize: four downstream branches (both candidate-join sides,
        # both verify sides) read this table, and column pruning gives each
        # a different subtree — Spark's ReusedExchange never fires (verified
        # in the physical plan: 16 scans without this). One compact row per
        # doc (id + sorted hashes), the standard persisted signature table
        # of a similarity join; same pattern as connected_components below.
        .localCheckpoint()
    )
    pre = per_doc.select(
        "doc_id", "sz", F.posexplode("prefix").alias("p", "token")
    )
    # Size-ratio prune at probe time: J ≥ t forces |A|,|B| within a factor
    # 1/t of each other — pairs outside the band never become candidates.
    ratio = F.lit(1.0 / threshold)
    # Opt r16 — PPJoin POSITIONAL filter (Xiao et al. WWW'08), provably
    # lossless: both prefix arrays are sorted by the same global (df,
    # token) order, so the first common token w1 minimizes BOTH positions
    # — pa1 = MIN(a.p), pb1 = MIN(b.p) over the matching prefix tokens.
    # Every other overlap token of the pair sorts strictly after w1 (a
    # token before w1 in one doc's prefix that also occurred in the other
    # doc would itself be a common prefix token before w1), hence
    # |A∩B| <= 1 + min(sa - pa1 - 1, sb - pb1 - 1). J >= t needs
    # |A∩B| >= t/(1+t)·(sa+sb), so pairs whose positional bound falls
    # short can never verify — drop them BEFORE the verify join ships
    # both full token arrays (measured: 310k -> far fewer candidates at
    # sf0.1, and the verify shuffle shrinks proportionally). The 1e-9
    # epsilon only loosens the cut (keeps borderline candidates), so the
    # filter stays lossless under float noise; verification is exact.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a_sz1") + F.col("b_sz1"))
        - F.lit(1e-9)
    )
    candidates = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") <= ratio * F.col("b.sz"))
            & (F.col("b.sz") <= ratio * F.col("a.sz")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.min("a.p").alias("pa1"),
            F.min("b.p").alias("pb1"),
            F.min("a.sz").alias("a_sz1"),
            F.min("b.sz").alias("b_sz1"),
        )
        .where(
            F.lit(1)
            + F.least(
                F.col("a_sz1") - F.col("pa1") - 1,
                F.col("b_sz1") - F.col("pb1") - 1,
            )
            >= alpha
        )
        .select("a_id", "b_id")
    )
    a_side = per_doc.select(
        F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"), F.col("sz").alias("a_sz")
    )
    b_side = per_doc.select(
        F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"), F.col("sz").alias("b_sz")
    )
    n_inter = F.size(F.array_intersect("a_toks", "b_toks"))
    return (
        candidates.join(a_side, "a_id")
        .join(b_side, "b_id")
        .select(
            "a_id",
            "b_id",
            (F.round((n_inter.cast("double") / (F.col("a_sz") + F.col("b_sz") - n_inter)) * 1000000).cast("bigint") / 1000000.0).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_SHINGLE_JACCARD_PAIRS_ORACLE.format(thr=0.5),
    doc="Exact 3-gram-shingle Jaccard pairs (≥0.5) by inverted-index join — "
    "no cross join; cost ∝ shingle co-occurrence, which is tiny because the "
    "shingle space is |vocab|³. (Unigram-token similarity is deliberately "
    "NOT used for pair generation: on a small-vocab corpus it is a near-"
    "clique — quadratic output; order-insensitive duplicates are handled "
    "linearly by dedup_bag_normalized/dedup_exact instead.)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_jaccard_pairs_cached(spark, sf_dir, 0.5)


@register(
    "dedup_ngram_jaccard_prefix",
    oracle=_SHINGLE_JACCARD_PAIRS_ORACLE.format(thr=0.5),
    doc="Same exact Jaccard pairs as dedup_ngram_jaccard, computed by the "
    "PPJoin-style prefix-filtered path (stop-token pruning + exact verify) — "
    "the skew-robust plan for corpora with hot high-DF tokens. Identical "
    "oracle: the prefix filter is provably lossless for J ≥ threshold.",
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _shingle_sets(load_fanned(spark, sf_dir, "documents"))
    return jaccard_pairs_prefix(docs, 0.5)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(token_sets: DataFrame, k: int = NUM_MINHASHES) -> DataFrame:
    """k minhashes per doc via one Arrow-batched numpy kernel
    (``mapInPandas``): the shingle-hash arrays of a whole batch concatenate
    into one uint64 vector, all k multiply-add hashes evaluate as a
    broadcasted outer product, and per-doc minima fall out of
    ``np.minimum.reduceat`` at the document offsets. This is the
    sanctioned vectorized-Python path (the similarity_ann_lsh GEMM
    lesson): measured ~2× on the signature stage vs the previous
    all-JVM explode + 64 seeded xxhash64 min-aggregates, because the
    JVM form evaluates 64 hash expressions per exploded row while numpy
    streams the whole batch per hash function.

    The hash family is multiply-add over uint64 with fixed odd
    multipliers (seeded rng(42) — deterministic across runs/platforms);
    wraparound multiplication is the universal-hashing construction, and
    downstream only ever compares signature slots for equality/minima.
    No shuffle: signatures are computed where the shingles live; only
    (doc_id, k×8 B) rows leave the stage."""
    import numpy as np  # deferred: keep module import light

    rng = np.random.default_rng(42)
    A = (rng.integers(1, 2**63, size=k, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=k, dtype=np.uint64)
    schema = "doc_id long, " + ", ".join(f"mh_{i} long" for i in range(k))
    max_chunk_tokens = 500_000  # (k=64)×500k×8B ≈ 256 MB peak per batch

    def kernel(batches):
        install_in_worker()
        import pandas as pd

        def flush(ids, toks):
            if not ids:
                return None
            lens = np.array([len(t) for t in toks])
            x = np.concatenate(toks).astype(np.uint64)
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            with np.errstate(over="ignore"):
                h = A[:, None] * x[None, :] + B[:, None]  # (k, T), uint64 wrap
            mins = np.minimum.reduceat(h, offsets, axis=1)  # (k, n_docs)
            out = {"doc_id": ids}
            signed = mins.astype(np.int64)
            for i in range(k):
                out[f"mh_{i}"] = signed[i]
            return pd.DataFrame(out)

        for pdf in batches:
            ids, toks, n_tok = [], [], 0
            for doc_id, arr in zip(pdf["doc_id"], pdf["toks"]):
                a = np.asarray(arr, dtype=np.int64)
                if a.size == 0:
                    continue  # no shingles → no signature (matches min-agg)
                ids.append(doc_id)
                toks.append(a)
                n_tok += a.size
                if n_tok >= max_chunk_tokens:
                    yield flush(ids, toks)
                    ids, toks, n_tok = [], [], 0
            out = flush(ids, toks)
            if out is not None:
                yield out

    return token_sets.mapInPandas(kernel, schema=schema)


def lsh_candidate_pairs(sigs: DataFrame, bands: int = NUM_BANDS, k: int = NUM_MINHASHES) -> DataFrame:
    """Band the signature; docs sharing any (band_id, band_hash) are
    candidates. Equi-join on the band key — broadcastable/AQE-skew-safe."""
    r = k // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("band_hash"),
        )
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )
    return (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
        .distinct()
    )


# Hash family for the ORACLED minhash below: one md5 per shingle string,
# split into two 56-bit halves h1/h2 (14 hex nibbles each), then the
# Kirsch-Mitzenmacher double-hashing family h_i = (h1 + i*h2) mod 2^60.
# Why these widths: i*h2 <= 63 * (2^56 - 1) < 2^62, plus h1 < 2^56, stays
# under 2^63 — NO 64-bit overflow, which matters because DuckDB raises on
# BIGINT overflow while the JVM wraps silently; keeping every intermediate
# in-range is what lets one hash definition hold bit-exactly in both
# engines. md5 is the cross-engine primitive (the sketches-module trick).
_MH_MOD = 1 << 60
_MH_K = NUM_MINHASHES  # 64 slots, banded 32×2 like the production path


def _md5_shingles(documents: DataFrame) -> DataFrame:
    """(doc_id, s): distinct 3-gram shingle STRINGS per doc — the md5-family
    representation (strings, not xxhash64 longs, because md5-of-string is
    the one hash both engines share). Callers pass a ``load_fanned``
    relation, as for :func:`_shingle_sets`."""
    w = tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 3),
        lambda i: F.concat_ws(" ", F.slice(w, (i + 1).cast("int"), 3)),
    )
    return documents.where(F.size(w) >= 3).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("s")
    )


def _md5_minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, v0, v1): 32 two-slot LSH bands from the md5-derived
    double-hash family. The 64-slot explode happens BEFORE a groupBy with
    map-side partial MIN, so the shuffle carries 64 rows/doc, not
    shingles."""
    m = F.md5("s")
    hh = sh.select(
        "doc_id",
        F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 15, 14), 16, 10).cast("long").alias("h2"),
    )
    slots = (
        hh.select(
            "doc_id", "h1", "h2",
            F.explode(F.sequence(F.lit(0), F.lit(_MH_K - 1))).alias("i"),
        )
        .select(
            "doc_id", "i",
            ((F.col("h1") + F.col("i") * F.col("h2")) % F.lit(_MH_MOD)).alias("v"),
        )
        .groupBy("doc_id", "i")
        .agg(F.min("v").alias("v"))
    )
    return slots.groupBy(
        "doc_id", (F.col("i") / 2).cast("int").alias("band")
    ).agg(
        F.max(F.when(F.col("i") % 2 == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("i") % 2 == 1, F.col("v"))).alias("v1"),
    )


@register(
    "dedup_minhash_lsh",
    # Upgraded rows-only → hash-oracled in round 7 (r6 VERDICT item 5):
    # LSH candidate generation is approximate w.r.t. GROUND TRUTH (recall
    # 1-(1-J²)³² ≈ 0.9999 at J=0.5), but it is a DETERMINISTIC function of
    # the corpus once the hash family is fixed — so the oracle replays the
    # identical md5-derived double-hash family, banding, and exact-Jaccard
    # verification, and the full answer (pairs AND scores) hash-verifies.
    # Recall/precision vs the exact oracled baseline (dedup_ngram_jaccard)
    # stays pinned in tests/test_llm_quality.py.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE LEN(string_split(text, ' ')) >= 3),
    sh AS (
      SELECT doc_id,
             UNNEST(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                   for i in range(1, LEN(toks) - 1)])) AS s
      FROM w),
    hh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(s), 15, 14) AS BIGINT) AS h2
      FROM sh),
    slots AS (
      SELECT doc_id, t.i AS i, MIN((h1 + t.i * h2) % {_MH_MOD}) AS v
      FROM hh, RANGE(0, {_MH_K}) t(i)
      GROUP BY doc_id, t.i),
    bands AS (
      SELECT doc_id, i // 2 AS band,
             MAX(CASE WHEN i % 2 = 0 THEN v END) AS v0,
             MAX(CASE WHEN i % 2 = 1 THEN v END) AS v1
      FROM slots GROUP BY doc_id, i // 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS cnt
      FROM cand c
      JOIN sh x ON x.doc_id = c.a_id
      JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
      GROUP BY c.a_id, c.b_id)
    SELECT i.a_id, i.b_id,
           (CAST(ROUND((i.cnt::DOUBLE / (sa.n + sb.n - i.cnt)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE i.cnt::DOUBLE / (sa.n + sb.n - i.cnt) >= {JACCARD_THRESHOLD}
    """,
    doc="MinHash(64) + LSH(32×2) over 3-gram shingles, exact-Jaccard "
    "verified at ≥0.5 — approximate candidate generation, exact "
    "verification, and (round 7) a fully deterministic md5-derived "
    "double-hash family (h1 + i*h2 mod 2^60, Kirsch-Mitzenmacher) that "
    "the DuckDB oracle replays bit-exactly: the whole answer hash-"
    "verifies, pairs and scores. Plan shape: per-shingle md5 → 64-slot "
    "explode with map-side partial MIN (the shuffle carries 64 rows/doc, "
    "not shingles) → 32-band equi-join (broadcast/AQE-skew-safe) → "
    "inverted-index exact verify on candidates only. The numpy multiply-"
    "add kernel (minhash_signatures) remains the measured fast path for "
    "the pipeline consumers (dedup_corpus, incremental_dedup).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    # Opt r15 (guide §2.4): bands feeds both self-join sides — staged so
    # the signature pipeline (explode + 64-slot partial-MIN) runs once
    # (32 compact rows/doc). The exploded shingle table `sh` is NOT
    # staged: it is token-level-sized (~600 rows/doc), and an A/B showed
    # materializing it costs more than its four recomputes (best-of-3:
    # 2.5-2.7 s staged vs 2.1-2.2 s unstaged at sf0.1) — the compact-
    # relation rule of the round's other staging wins, learned negative.
    sh = _md5_shingles(d)
    bands = _md5_minhash_bands(sh).localCheckpoint()
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v0") == F.col("b.v0"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("a_id"), "s"), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), "s"), ["b_id", "s"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("cnt"))
    )
    jac = F.col("cnt").cast("double") / (F.col("na") + F.col("nb") - F.col("cnt"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb")), "b_id")
        .where(jac >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", (F.round((jac) * 1000000).cast("bigint") / 1000000.0).alias("jaccard"))
    )


def dedup_corpus(documents: DataFrame, jaccard_threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """The production dedup pipeline as ONE call: documents in → keep-list
    out.

    Stages (each linear except the selective candidate join):
      1. exact content dedup (md5 hash-aggregate),
      2. order-insensitive bag dedup (sorted-token-bag fingerprint),
      3. sequence near-dup edges (MinHash-LSH candidates over shingle
         hashes, exact-Jaccard verified),
      4. connected components → one representative per duplicate cluster.

    Returns (doc_id, keep BOOLEAN, reason STRING, cluster_rep BIGINT):
    every input doc appears once; `keep` marks the survivor of its cluster.
    Shingling is heavy per-row work: pass a ``load_fanned`` relation to
    spread a narrow scan over the cluster.
    """
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text"))))))
    keyed = documents.select(
        "doc_id", F.md5("text").alias("content_md5"), bag.alias("bag_md5")
    )
    # exact + bag dups collapse to edges against the cluster minimum
    exact_edges = (
        keyed.groupBy("content_md5")
        .agg(F.min("doc_id").alias("a_id"), F.collect_list("doc_id").alias("ids"))
        .select("a_id", F.explode("ids").alias("b_id"))
        .where(F.col("a_id") < F.col("b_id"))
    )
    bag_edges = (
        keyed.groupBy("bag_md5")
        .agg(F.min("doc_id").alias("a_id"), F.collect_list("doc_id").alias("ids"))
        .select("a_id", F.explode("ids").alias("b_id"))
        .where(F.col("a_id") < F.col("b_id"))
    )
    shingled = _shingle_sets(documents)
    near_edges = _minhash_verified_pairs(shingled, jaccard_threshold).select("a_id", "b_id")
    edges = exact_edges.unionByName(bag_edges).unionByName(near_edges).distinct()
    nodes = documents.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("node").alias("doc_id"),
        (F.col("comp") == F.col("node")).alias("keep"),
        F.when(F.col("comp") == F.col("node"), "unique_or_representative")
        .otherwise("duplicate")
        .alias("reason"),
        F.col("comp").alias("cluster_rep"),
    )


def _minhash_verified_pairs(shingled: DataFrame, threshold: float) -> DataFrame:
    sigs = minhash_signatures(shingled)
    cands = lsh_candidate_pairs(sigs)
    sized = shingled.select("doc_id", "toks", F.size("toks").alias("sz"))
    a = sized.select(
        F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"), F.col("sz").alias("a_sz")
    )
    b = sized.select(
        F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"), F.col("sz").alias("b_sz")
    )
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            (inter.cast("double") / (F.col("a_sz") + F.col("b_sz") - inter)).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def incremental_dedup(
    corpus_sigs: DataFrame, new_docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Production dedup flow: screen an INCOMING batch against an existing
    corpus without touching corpus text — only its (persisted) minhash
    signatures. New docs whose LSH bands collide with any corpus signature
    band are flagged as candidate duplicates (exact verification would then
    fetch just those corpus docs).

    corpus_sigs: output of ``minhash_signatures`` (doc_id + mh_0..mh_k-1).
    new_docs:    (doc_id, toks) shingle sets of the incoming batch.
    Returns (new_doc_id, corpus_doc_id) candidate pairs.

    Scale shape: the corpus side is touched only through its banded
    signature index (k×8 bytes/doc); the join key is (band_id, band_hash);
    incoming-batch size, not corpus size, drives the work.
    """
    new_sigs = minhash_signatures(new_docs)

    def banded(sigs: DataFrame) -> DataFrame:
        r = NUM_MINHASHES // NUM_BANDS
        band_cols = [
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("band_hash"),
            )
            for b in range(NUM_BANDS)
        ]
        return sigs.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("band")
        ).select("doc_id", "band.band_id", "band.band_hash")

    nb = banded(new_sigs).withColumnRenamed("doc_id", "new_doc_id")
    cb = banded(corpus_sigs).withColumnRenamed("doc_id", "corpus_doc_id")
    return (
        nb.join(cb, ["band_id", "band_hash"])
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )


@register(
    "dedup_incremental_batch",
    # Upgraded rows-only → hash-oracled in round 7: on the md5-derived
    # double-hash family the band-collision candidate set is a
    # deterministic function of the corpus, so DuckDB replays it exactly
    # (same construction as dedup_minhash_lsh's oracle, with the band
    # table split at the corpus/batch boundary instead of self-joined).
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE LEN(string_split(text, ' ')) >= 3),
    sh AS (
      SELECT doc_id,
             UNNEST(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                   for i in range(1, LEN(toks) - 1)])) AS s
      FROM w),
    hh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(s), 1, 14) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(s), 15, 14) AS BIGINT) AS h2
      FROM sh),
    slots AS (
      SELECT doc_id, t.i AS i, MIN((h1 + t.i * h2) % {_MH_MOD}) AS v
      FROM hh, RANGE(0, {_MH_K}) t(i)
      GROUP BY doc_id, t.i),
    bands AS (
      SELECT doc_id, i // 2 AS band,
             MAX(CASE WHEN i % 2 = 0 THEN v END) AS v0,
             MAX(CASE WHEN i % 2 = 1 THEN v END) AS v1
      FROM slots GROUP BY doc_id, i // 2)
    SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
    FROM bands n JOIN bands c
      ON n.band = c.band AND n.v0 = c.v0 AND n.v1 = c.v1
    WHERE n.doc_id >= 400 AND c.doc_id < 400
    """,
    doc="Incremental dedup: screen an incoming batch (doc_id ≥ 400) against "
    "the existing corpus (doc_id < 400) using only the corpus's persisted "
    "minhash band index — work scales with the batch, not the corpus. "
    "Round 7: the registered query runs on the md5-derived double-hash "
    "family so the candidate set hash-verifies against DuckDB; the numpy "
    "multiply-add signature store (incremental_dedup) remains the "
    "measured production path and keeps its own tests.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    # Opt r15 (guide §2.4): `bands` feeds both the corpus and the batch
    # side of the probe join — un-staged, the shingle -> minhash ->
    # band pipeline ran twice. Stage the 32-compact-rows-per-doc band
    # table (the dedup_minhash_lsh remedy, and physically the persisted
    # index the operator's contract describes).
    bands = _md5_minhash_bands(_md5_shingles(d)).localCheckpoint()
    corpus = bands.where(F.col("doc_id") < 400)
    batch = bands.where(F.col("doc_id") >= 400)
    return (
        batch.alias("n")
        .join(
            corpus.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.v0") == F.col("c.v0"))
            & (F.col("n.v1") == F.col("c.v1")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over near-dup edges
# ---------------------------------------------------------------------------
def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Min-label propagation until fixpoint: each node's label becomes the
    smallest node id in its component — the canonical 'cluster
    representative' for a dedup keep-list.

    Iterative DataFrame loop; each round is one join + one aggregate, and
    ``localCheckpoint`` truncates the lineage so the plan doesn't grow with
    iterations (THE classic failure mode of iterative Spark). Rounds needed
    = graph diameter; near-dup graphs are unions of small cliques, so 2-3
    rounds in practice, with a convergence check to stop early.

    nodes: one column ``node``;  edges: columns ``a_id``, ``b_id``.
    """
    sym = (
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionByName(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .localCheckpoint()
    )
    labels = nodes.select("node", F.col("node").alias("comp"))
    # Fixpoint detection: min-label propagation only ever DECREASES labels,
    # so sum(comp) strictly decreases every round until convergence and is
    # equal exactly at the fixpoint — one narrow aggregate over the (small,
    # already-checkpointed) label table per round instead of the r1
    # label-vs-label join + count (two fewer jobs per iteration, which at
    # driver-correctness scale is most of the loop's cost).
    prev_sum = None
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "comp")
        )
        new_labels = (
            labels.unionByName(neigh).groupBy("node").agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        # Sum as decimal(38,0): non-ANSI SUM(long) wraps silently on
        # overflow, and a wrapped sum colliding with prev_sum would end the
        # loop before the true fixpoint (r4 VERDICT). 38 digits covers
        # 2^63 ids × ~10^18 rows without wrap.
        cur_sum = new_labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # Loop exhausted without the changed==0 fixpoint: labels may split
        # one true component into several representatives. Surface it —
        # silent unconverged output corrupts a dedup keep-list downstream.
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} iterations "
            "(graph diameter exceeds max_iter); labels may be unconverged — "
            "raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


@register(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE LEN(string_split(text, ' ')) >= 3),
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, LEN(toks) - 1)]) AS s
      FROM w),
    -- inverted-index pair generation (same rewrite as
    -- _SHINGLE_JACCARD_PAIRS_ORACLE: ~10× cheaper than all-pairs
    -- list_intersect, identical pairs)
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    tok AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5),
    edges AS (
      SELECT a_id AS s, b_id AS t FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.t, r.comp FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.comp < e.t)
    SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS cluster_rep,
           (MIN(comp) <> node) AS is_duplicate
    FROM reach GROUP BY node
    """,
    doc="Dedup CLUSTERING: connected components over shingle-Jaccard ≥0.5 "
    "edges via iterative min-label propagation (lineage-checkpointed) — "
    "emits the per-document cluster representative, i.e. the keep-list, "
    "with LINEAR output size (the scalable dedup deliverable; pair lists "
    "are diagnostics).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    edges = shingle_jaccard_pairs_cached(spark, sf_dir, 0.5).select("a_id", "b_id")
    nodes = d.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_rep"),
        (F.col("comp") != F.col("node")).alias("is_duplicate"),
    )


@register(
    "dedup_keep_canonical",
    oracle="""
    WITH RECURSIVE
    w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE LEN(string_split(text, ' ')) >= 3),
    sh AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, LEN(toks) - 1)]) AS s
      FROM w),
    sizes AS (SELECT doc_id, LEN(s) AS n FROM sh),
    tok AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.5),
    edges AS (
      SELECT a_id AS s, b_id AS t FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
    reach(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.t, r.comp FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.comp < e.t),
    members AS (
      SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY node),
    scored AS (
      SELECT m.cluster_rep, m.doc_id,
             LEN(string_split(d.text, ' ')) AS n_tok
      FROM members m JOIN documents d USING (doc_id)),
    ranked AS (
      SELECT cluster_rep, doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY cluster_rep
                                ORDER BY n_tok DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_rep) AS n_members
      FROM scored)
    SELECT cluster_rep, doc_id AS kept_doc_id,
           CAST(n_tok AS BIGINT) AS kept_tokens,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    """,
    doc="End-to-end dedup APPLICATION: near-dup clusters (shingle-Jaccard "
    "≥0.5 → connected components) canonicalized by keeping each "
    "cluster's LONGEST member (ties → smallest doc_id) — the standard "
    "near-dup canonicalization heuristic, composing the cluster and "
    "quality families into the actual corpus deliverable. Output is "
    "LINEAR (one row per kept document) with provenance counts; the "
    "per-cluster argmax is a WindowGroupLimit-style top-1, so nothing "
    "materializes full per-cluster orderings at scale.",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    edges = shingle_jaccard_pairs_cached(spark, sf_dir, 0.5).select("a_id", "b_id")
    nodes = d.select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, edges)
    scored = labels.join(
        d.select("doc_id", F.size(F.split("text", " ")).alias("n_tok")),
        labels.node == F.col("doc_id"),
    ).select(F.col("comp").alias("cluster_rep"), "doc_id", "n_tok")
    w = Window.partitionBy("cluster_rep").orderBy(F.desc("n_tok"), F.asc("doc_id"))
    wc = Window.partitionBy("cluster_rep")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .where(F.col("rn") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_tok").cast("long").alias("kept_tokens"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(token_sets: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Bit-vote SimHash: each token's hash votes ±1 per bit position; the
    sign of each tally is the fingerprint bit.

    Arrow-batched numpy kernel (the minhash_signatures pattern): tokens
    re-hash through vectorized splitmix64 (full-width avalanche — a bare
    multiply-add would leave low-bit structure that biases the votes),
    the ±1 bit votes form a (tokens × bits) int16 matrix, and per-doc
    tallies fall out of ``np.add.reduceat`` at the document offsets. The
    previous all-JVM form (explode + 64 bit-extract sum aggregates)
    evaluated 64 expressions per exploded row — same lesson as minhash,
    ~2× on the fingerprint stage. No shuffle; only (doc_id, 8 B)
    fingerprints leave the stage. Votes stay int16 for memory, but the
    reduceat accumulator is int32 so a >32k-token document cannot wrap
    the per-bit tally.

    Accepts string-token sets (hashed to longs JVM-side first — one
    xxhash64 inside a transform) or pre-hashed long sets."""
    import numpy as np

    toks_type = dict(token_sets.dtypes).get("toks", "")
    avalanche = True
    if "string" in toks_type:
        token_sets = token_sets.select(
            "doc_id", F.transform("toks", lambda t: F.xxhash64(t)).alias("toks")
        )
        # xxhash64 output is already avalanched — voting on its bits
        # directly reproduces the original JVM formulation bit-for-bit
        avalanche = False

    def kernel(batches):
        install_in_worker()
        import pandas as pd

        shifts = np.arange(bits, dtype=np.uint64)

        def flush(ids, toks):
            if not ids:
                return None
            lens = np.array([len(t) for t in toks])
            x = np.concatenate(toks).astype(np.uint64)
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            if avalanche:
                with np.errstate(over="ignore"):
                    z = x + np.uint64(0x9E3779B97F4A7C15)
                    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                    z = z ^ (z >> np.uint64(31))
            else:
                z = x
            votes = (((z[:, None] >> shifts) & np.uint64(1)).astype(np.int16) * 2 - 1)
            # Accumulate in int32 (r2 ADVICE): reduceat otherwise sums in the
            # votes dtype, and a >32,767-token doc would wrap int16 and
            # silently corrupt its fingerprint. Votes stay int16 (memory-
            # bound on the 500k-token chunk); only the accumulator widens.
            tallies = np.add.reduceat(votes, offsets, axis=0, dtype=np.int32)
            fp = ((tallies > 0).astype(np.uint64) << shifts).sum(
                axis=1, dtype=np.uint64
            )
            return pd.DataFrame({"doc_id": ids, "simhash": fp.astype(np.int64)})

        for pdf in batches:
            ids, toks, n_tok = [], [], 0
            for doc_id, arr in zip(pdf["doc_id"], pdf["toks"]):
                a = np.asarray(arr, dtype=np.int64)
                if a.size == 0:
                    continue
                ids.append(doc_id)
                toks.append(a)
                n_tok += a.size
                if n_tok >= 500_000:
                    yield flush(ids, toks)
                    ids, toks, n_tok = [], [], 0
            out = flush(ids, toks)
            if out is not None:
                yield out

    return token_sets.mapInPandas(kernel, schema="doc_id long, simhash long")


@register(
    "dedup_simhash",
    # Upgraded rows-only → hash-oracled in round 7: the registered query
    # votes on md5 bits (the cross-engine hash primitive) instead of
    # xxhash64, so the fingerprint — and therefore the candidate bands,
    # the pairs, and every hamming distance — is a deterministic function
    # of the corpus that DuckDB replays bit-for-bit. The numpy splitmix64
    # kernel (`simhash`) remains the measured fast path and keeps its
    # planted-pair/band-occupancy quality gates.
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS t
      FROM documents),
    bits AS (
      SELECT doc_id, g.b AS b,
             ((CAST('0x' || substr(md5(t), CAST(g.b // 4 AS INT) + 1, 1)
                    AS INT) >> CAST(g.b % 4 AS INT)) & 1) AS bit
      FROM tok, RANGE(0, 64) g(b)),
    votes AS (
      SELECT doc_id, b,
             CASE WHEN SUM(2 * bit - 1) >= 0 THEN 1 ELSE 0 END AS fpbit
      FROM bits GROUP BY doc_id, b),
    slices AS (
      SELECT doc_id, b // 16 AS slice_id,
             CAST(SUM(fpbit << CAST(b % 16 AS INT)) AS BIGINT) AS slice_val
      FROM votes GROUP BY doc_id, b // 16),
    fp AS (
      SELECT doc_id,
             MAX(CASE WHEN slice_id = 0 THEN slice_val END) AS s0,
             MAX(CASE WHEN slice_id = 1 THEN slice_val END) AS s1,
             MAX(CASE WHEN slice_id = 2 THEN slice_val END) AS s2,
             MAX(CASE WHEN slice_id = 3 THEN slice_val END) AS s3
      FROM slices GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM slices x JOIN slices y
        ON x.slice_id = y.slice_id AND x.slice_val = y.slice_val
       AND x.doc_id < y.doc_id)
    SELECT c.a_id, c.b_id,
           CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
              + bit_count(xor(a.s2, b.s2)) + bit_count(xor(a.s3, b.s3))
              AS INT) AS hamming
    FROM cand c
    JOIN fp a ON a.doc_id = c.a_id
    JOIN fp b ON b.doc_id = c.b_id
    WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
        + bit_count(xor(a.s2, b.s2)) + bit_count(xor(a.s3, b.s3))
        <= {HAMMING_THRESHOLD}
    """,
    doc="SimHash near-dup pairs within Hamming distance ≤3, candidates via "
    "16-bit band join on the fingerprint (4 slices of the 64-bit hash; "
    "Hamming ≤3 guarantees ≥1 exact slice by pigeonhole). Round 7: the "
    "registered query votes on md5 bits — one md5 per distinct token, "
    "64 bit-votes exploded BEFORE a map-side-combinable sum, ties "
    "resolved >=0 — so the whole answer hash-verifies against a DuckDB "
    "replay; fingerprints live as 4x16-bit slices (no 64-bit sign "
    "hazards anywhere).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_fanned(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    )
    # ONE aggregation, no explode: 64 static bit-sum expressions over the
    # token rows (bit b of md5 = bit (b%4) of hex nibble b//4), plus the
    # token count — vote_b = 2*sum_b - n, fpbit = vote >= 0. The earlier
    # 64-way explode form was measured 8x slower at sf0.1; this shape is
    # one map-side-combinable groupBy with literal-shift expressions.
    nibs = F.expr(
        "transform(sequence(0, 15), "
        "k -> CAST(conv(substring(md5(t), k + 1, 1), 16, 10) AS INT))"
    )
    # (r16 evaluated + rejected: hashing only DISTINCT tokens into a
    # broadcast vocab table — the distinct tokens per doc are only ~23, so
    # the extra distinct shuffle cost MORE than the duplicated md5s it
    # saved; warm A/B 1.65 s row-md5 vs 2.22 s vocab-md5. Learned
    # negative, kept row-side md5.)
    agg = tok.select("doc_id", nibs.alias("nibs")).groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.expr(
                f"SUM(shiftright(element_at(nibs, {b // 4 + 1}), {b % 4}) % 2)"
            ).alias(f"c{b}")
            for b in range(64)
        ],
    )

    def slice_val(sl: int):
        terms = [
            F.when(2 * F.col(f"c{b}") - F.col("n") >= 0, 1 << (b % 16)).otherwise(0)
            for b in range(16 * sl, 16 * sl + 16)
        ]
        out = terms[0]
        for t_ in terms[1:]:
            out = out + t_
        return out.cast("bigint").alias(f"s{sl}")

    # Opt r15 staged fp for THREE branches (band join two sides + two
    # verify re-attachments). Opt r16 (guide §2.4): the verify joins are
    # gone entirely — the whole 4×16-bit fingerprint rides THROUGH the
    # band join (8 extra smallint-range columns per banded row), hamming
    # is computed directly on the matched pair, and the final DISTINCT
    # dedups multi-band matches of the identical (a_id, b_id, hamming)
    # row. fp now has ONE consumer, so the checkpoint is dropped too:
    # plan went 2 joins + 1 distinct + checkpoint -> 1 join + 1 distinct.
    fp = agg.select("doc_id", *[slice_val(sl) for sl in range(4)])
    slices = fp.select(
        "doc_id",
        *[F.col(f"s{sl}") for sl in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(sl).alias("slice_id"),
                        F.col(f"s{sl}").alias("slice_val"),
                    )
                    for sl in range(4)
                ]
            )
        ).alias("sl"),
    ).select(
        "doc_id", "s0", "s1", "s2", "s3", "sl.slice_id", "sl.slice_val"
    )
    hamming = sum(
        F.bit_count(F.col(f"x.s{s}").bitwiseXOR(F.col(f"y.s{s}")))
        for s in range(4)
    )
    return (
        slices.alias("x")
        .join(
            slices.alias("y"),
            (F.col("x.slice_id") == F.col("y.slice_id"))
            & (F.col("x.slice_val") == F.col("y.slice_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (exact baseline; LSH variant in llm/similarity)
# ---------------------------------------------------------------------------
@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT a_id, b_id, cos_sim FROM pairs WHERE cos_sim >= 0.4
    """,
    doc="Embedding near-duplicate pairs (cosine ≥0.4), exact all-pairs "
    "baseline — the small-N ground truth for the LSH variant. Executed "
    "as a fully distributed BLOCK-PAIR GEMM: vectors hash into P blocks, "
    "each block packs into one row (collect_list under groupBy — a "
    "normal shuffle, no driver materialization), the P·(P+1)/2 unordered "
    "block pairs join, and each pair multiplies its two (n/P × d) "
    "matrices in a single numpy call inside mapInPandas. Replaces the "
    "r1 row-pair theta join (per-pair HOF dot, interpreter-bound, 75 s "
    "→ 3 s at sf0.1) AND the r2 driver-side toPandas+broadcast build "
    "(r2 ADVICE: an eager driver job and a driver-memory bound). "
    "Compute is still deliberately N² — this is the exact baseline; at "
    "scale, size P so a block fits executor memory (shuffle volume is "
    "(P+1)·N·d) and use the ANN path as the production route.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_pairs(spark, sf_dir, threshold=0.4)


def shingle_jaccard_pairs_cached(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Memoized ``jaccard_pairs(_shingle_sets(documents), threshold)``:
    the pair set feeds pagerank/HITS/clusters/keep-canonical, staged once
    per (session, sf_dir, threshold) by ``plans/stage_memo.staged``."""
    return stage_memo.staged(
        spark, "jaccard", sf_dir, float(threshold),
        lambda: _pair_memo(jaccard_pairs(
            _shingle_sets(load_fanned(spark, sf_dir, "documents")), threshold
        )),
    )


def embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """All cosine-similar pairs (a_id < b_id, cos_sim ≥ threshold) via the
    distributed block-pair GEMM described on ``dedup_embedding_cosine`` —
    shared with the similarity-graph operators (triangle counting), staged
    once per (session, sf_dir, threshold) by ``plans/stage_memo.staged``."""
    return stage_memo.staged(
        spark, "cosine", sf_dir, float(threshold),
        lambda: _pair_memo(_cosine_pair_gemm(spark, sf_dir, threshold)),
    )


def _pair_memo(pairs: DataFrame) -> DataFrame:
    """Checkpoint a pair set eagerly and hand the planner its stored
    size: the graph joins over a pair memo under the broadcast threshold
    build on it instead of shuffling it."""
    return stage_memo.broadcast_if_stored_small(pairs.localCheckpoint())


def _cosine_pair_gemm(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """The unmemoized block-pair GEMM behind :func:`embedding_cosine_pairs`."""
    import numpy as np

    # Block count: 8 spreads the GEMM across executors at test scale while
    # keeping 36 block-pair tasks; at cluster scale choose P ≈ N·d·8B /
    # (executor-memory budget per block) so each packed block row fits.
    P = 8
    # Plain scan, no fan: the block groupBy below is an exchange anyway.
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # One collect_list of (id, vector) structs, not two parallel collect_lists
    # zipped by index: collect_list's element order is documented
    # non-deterministic, so two independent aggregates could legally disagree
    # on order and mispair ids with vectors (r4 VERDICT / r3 ADVICE).
    blocks = (
        e.groupBy(F.pmod(F.xxhash64("vec_id"), F.lit(P)).alias("blk"))
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("pack"))
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.pack").alias("pack_a"),
        F.col("b.pack").alias("pack_b"),
        (F.col("a.blk") == F.col("b.blk")).alias("self_pair"),
    )

    def kernel(batches):
        install_in_worker()
        import pandas as pd

        def unpack(pack_cell):
            ids = np.asarray([r["vec_id"] for r in pack_cell], dtype=np.int64)
            m = np.array(
                [np.asarray(r["embedding"], dtype=np.float64) for r in pack_cell]
            )
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            return ids, m

        for pdf in batches:
            for pack_a, pack_b, _self in pdf.itertuples(index=False):
                ia, ma = unpack(pack_a)
                ib, mb = unpack(pack_b)
                sims = np.round(ma @ mb.T, 6)
                # Each unordered vector pair lands in exactly one block-pair
                # row (blk_a <= blk_b); id order inside it is arbitrary, so
                # orient by id — which also drops the self-pair diagonal.
                keep = (sims >= threshold) & (ia[:, None] < ib[None, :])
                r, c = np.nonzero(keep)
                lo, hi, s = ia[r], ib[c], sims[r, c]
                if not _self:
                    # blk_a != blk_b: pairs where the b-side id is smaller
                    # were excluded above — recover them mirrored.
                    keep2 = (sims >= threshold) & (ia[:, None] > ib[None, :])
                    r2, c2 = np.nonzero(keep2)
                    lo = np.concatenate([lo, ib[c2]])
                    hi = np.concatenate([hi, ia[r2]])
                    s = np.concatenate([s, sims[r2, c2]])
                yield pd.DataFrame({"a_id": lo, "b_id": hi, "cos_sim": s})

    return pairs.mapInPandas(kernel, schema="a_id long, b_id long, cos_sim double")


@register(
    "dedup_containment_pairs",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE LEN(string_split(text, ' ')) >= 3),
    docs AS (
      SELECT doc_id,
             list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, LEN(toks) - 1)]) AS sh
      FROM w),
    sizes AS (SELECT doc_id, LEN(sh) AS n FROM docs),
    tok AS (SELECT doc_id, UNNEST(sh) AS s FROM docs),
    inter AS (
      SELECT a.doc_id AS small_id, b.doc_id AS big_id, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT small_id, big_id,
           (CAST(ROUND((c::DOUBLE / sa.n) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = small_id
    JOIN sizes sb ON sb.doc_id = big_id
    WHERE c::DOUBLE / sa.n >= 0.9 AND sa.n <= sb.n
    """,
    doc="Shingle CONTAINMENT pairs (|A∩B| / |A| ≥ 0.9, A the smaller "
    "set): catches a document quoted or embedded inside a larger one — "
    "the asymmetric duplication symmetric Jaccard misses (a 30-token "
    "quote inside a 1000-token page has J ≈ 0.03 but containment 1.0). "
    "Same inverted-index join as jaccard_pairs — cost ∝ shingle "
    "co-occurrence, never |docs|²; the size table re-attaches by key. "
    "The production screen behind 'dedup against embedded boilerplate'; "
    "at 100 TB add the stop-shingle prefix filter exactly as "
    "dedup_ngram_jaccard_prefix does for the symmetric case.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Opt r15: the shingle table feeds sizes + BOTH self-join sides —
    # un-staged, the scan + tokenize + shingle-hash chain ran once per
    # branch (the dedup_ngram_jaccard_prefix finding, ~1.7 s each at
    # sf0.1). Staged: one compact (id, hashes) row per doc.
    docs = _shingle_sets(load_fanned(spark, sf_dir, "documents")).localCheckpoint()
    sizes = docs.select("doc_id", F.size("toks").alias("n"))
    tok = docs.select("doc_id", F.explode("toks").alias("s"))
    a, b = tok.alias("a"), tok.alias("b")
    # |A∩B| is symmetric: join/aggregate each unordered pair ONCE (<) and
    # mirror the counts afterwards — half the shuffle of a <> theta join
    inter_lt = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("lo"), F.col("b.doc_id").alias("hi"))
        .agg(F.count("*").alias("c"))
    )
    inter = inter_lt.select(
        F.col("lo").alias("small_id"), F.col("hi").alias("big_id"), "c"
    ).unionByName(
        inter_lt.select(F.col("hi").alias("small_id"), F.col("lo").alias("big_id"), "c")
    )
    sa = sizes.select(F.col("doc_id").alias("small_id"), F.col("n").alias("n_small"))
    sb = sizes.select(F.col("doc_id").alias("big_id"), F.col("n").alias("n_big"))
    cont = F.col("c") / F.col("n_small")
    return (
        inter.join(sa, "small_id")
        .join(sb, "big_id")
        .where((cont >= 0.9) & (F.col("n_small") <= F.col("n_big")))
        .select("small_id", "big_id", (F.round((cont) * 1000000).cast("bigint") / 1000000.0).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Paragraph-level (chunk) dedup — the CCNet-style sub-document pass
# ---------------------------------------------------------------------------
PARAGRAPH_TOKENS = 10


@register(
    "dedup_paragraph_chunks",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id,
             UNNEST(list_transform(range(LEN(toks) // 10),
               i -> md5(array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' ')))) AS h
      FROM t WHERE LEN(toks) >= 10),
    g AS (SELECT h, COUNT(*) AS cnt FROM c GROUP BY h)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE cnt > 1) AS BIGINT) AS n_dup_chunks,
           (CAST(ROUND((COUNT(*) FILTER (WHERE cnt > 1)::DOUBLE / COUNT(*)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS dup_ratio
    FROM c JOIN g USING (h)
    GROUP BY doc_id
    """,
    doc="Sub-document dedup, CCNet-style: documents split into consecutive "
    "10-token chunks (the paragraph proxy for this corpus), each chunk "
    "md5-hashed, and every doc scored by the fraction of its chunks that "
    "occur ANYWHERE else in the corpus — the signal CCNet thresholds to "
    "drop boilerplate-heavy documents that whole-document dedup misses "
    "entirely. Plan: map-side chunk+hash (array HOFs, no shuffle), one "
    "16-byte-key aggregate for global chunk counts, one join back, one "
    "per-doc aggregate. Shuffles carry hashes and counts, never text — "
    "at 100 TB the chunk-hash table is the only wide state and it "
    "partitions cleanly by hash.",
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = PARAGRAPH_TOKENS
    d = load_fanned(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    chunk_hashes = F.expr(
        f"transform(sequence(0, size(toks) div {k} - 1), "
        f"i -> md5(concat_ws(' ', slice(toks, i*{k} + 1, {k}))))"
    )
    chunks = (
        d.where(F.size("toks") >= k)
        .select("doc_id", F.explode(chunk_hashes).alias("h"))
    )
    # Global occurrence count as a WINDOW over the chunk hash, not a
    # groupBy+self-join: the join form scans and re-explodes every document
    # twice (both join inputs share the explode subtree — no exchange
    # reuse). One pass, one shuffle by h, one by doc_id. Skew note: the
    # window buffers each hash group in one task, so a corpus with a
    # mega-hot boilerplate chunk (hundreds of millions of copies) should
    # flip back to groupBy(h).count()+join — partial aggregation absorbs
    # hot keys; the re-scan is the lesser cost there.
    from pyspark.sql import Window

    counted = chunks.withColumn("cnt", F.count("*").over(Window.partitionBy("h")))
    return counted.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(F.col("cnt") > 1).cast("bigint").alias("n_dup_chunks"),
        (F.round((F.count_if(F.col("cnt") > 1) / F.count("*")) * 1000000).cast("bigint") / 1000000.0).alias("dup_ratio"),
    )


SPAN_TOKENS = 15


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
      SELECT doc_id,
             UNNEST(range(LEN(toks) - {SPAN_TOKENS} + 1)) AS pos,
             UNNEST(list_transform(range(LEN(toks) - {SPAN_TOKENS} + 1),
               i -> md5(array_to_string(
                      list_slice(toks, i + 1, i + {SPAN_TOKENS}), ' ')))) AS h
      FROM t WHERE LEN(toks) >= {SPAN_TOKENS}),
    c AS (SELECT doc_id, pos,
                 COUNT(*) OVER (PARTITION BY h) AS cnt
          FROM w),
    d AS (SELECT doc_id, pos FROM c WHERE cnt > 1),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             + {SPAN_TOKENS}
                  THEN 1 ELSE 0 END AS brk
      FROM d),
    sp AS (SELECT doc_id, pos,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM isl),
    spans AS (SELECT doc_id, grp, MIN(pos) AS s,
                     MAX(pos) + {SPAN_TOKENS} - 1 AS e
              FROM sp GROUP BY doc_id, grp),
    per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
                FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(LEN(t.toks) AS BIGINT) AS n_tokens,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(dup_tokens, 0) AS dup_tokens,
           (CAST(ROUND((COALESCE(dup_tokens, 0)::DOUBLE
                 / NULLIF(LEN(t.toks), 0)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS dup_ratio
    FROM t LEFT JOIN per_doc USING (doc_id)
    """,
    doc="ExactSubstr-style span-level dedup (Lee et al., 'Deduplicating "
    "Training Data Makes Language Models Better'): every STRIDE-1 sliding "
    "15-token window is hashed, windows whose exact token sequence occurs "
    "more than once ANYWHERE in the corpus (cross-doc or intra-doc) are "
    "flagged, and per document the flagged windows are merged into maximal "
    "duplicated spans (overlap-or-adjacent interval union via the lag/"
    "cumsum islands idiom). Output per doc: token count, span count, "
    "tokens covered by duplicated spans, coverage ratio — the per-doc "
    "signal span-removal pipelines threshold on. The paper's suffix-array "
    "formulation is a single-machine algorithm; the windowed-hash "
    "formulation is the shuffle-native equivalent for fixed span width "
    "(k=15 scales down the paper's 50-token spans to this corpus). Plan: "
    "map-side window hashing (array HOFs over one explode), occurrence "
    "counts as a COUNT window over the 16-byte hash (one shuffle; partial-"
    "agg-friendly groupBy+join is the documented flip for a mega-hot "
    "boilerplate hash, same tradeoff as dedup_paragraph_chunks), then "
    "islands windows by doc_id (second shuffle, also the output "
    "partitioning). Shuffles carry (doc_id, pos, hash) triples, never "
    "text — at 100 TB the stride-1 window table is ~|tokens| rows of "
    "~32 bytes, partitioning cleanly by hash.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = SPAN_TOKENS
    base = load_fanned(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        tokens(F.col("text")).alias("toks"),
    )
    wins = F.expr(
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> struct(i AS pos, md5(concat_ws(' ', slice(toks, i + 1, {k}))) AS h))"
    )
    w = (
        base.where(F.col("n_tokens") >= k)
        .select("doc_id", F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    dup = (
        w.withColumn("cnt", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("cnt") > 1)
        .select("doc_id", "pos")
    )
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    lag_pos = F.lag("pos").over(by_doc)
    sp = dup.withColumn(
        "brk", F.when(lag_pos.isNull() | (F.col("pos") > lag_pos + k), 1).otherwise(0)
    ).withColumn("grp", F.sum("brk").over(by_doc))
    spans = sp.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"), (F.max("pos") + k - 1).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            (F.round((F.coalesce("dup_tokens", F.lit(0))
                / F.expr("nullif(n_tokens, 0)")) * 1000000).cast("bigint") / 1000000.0).alias("dup_ratio"),
        )
    )


@register(
    "dedup_substring_remove",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
      SELECT doc_id,
             UNNEST(range(LEN(toks) - {SPAN_TOKENS} + 1)) AS pos,
             UNNEST(list_transform(range(LEN(toks) - {SPAN_TOKENS} + 1),
               i -> md5(array_to_string(
                      list_slice(toks, i + 1, i + {SPAN_TOKENS}), ' ')))) AS h
      FROM t WHERE LEN(toks) >= {SPAN_TOKENS}),
    g AS (SELECT h, COUNT(*) AS cnt,
                 MIN(doc_id * 1000000 + pos) AS first_key
          FROM w GROUP BY h),
    nonfirst AS (
      SELECT w.doc_id, w.pos FROM w JOIN g USING (h)
      WHERE g.cnt > 1 AND w.doc_id * 1000000 + w.pos <> g.first_key),
    cover AS (
      SELECT DISTINCT doc_id, UNNEST(range(pos, pos + {SPAN_TOKENS})) AS tp
      FROM nonfirst),
    toktab AS (
      SELECT doc_id, UNNEST(range(LEN(toks))) AS tp,
             UNNEST(toks) AS tok
      FROM t),
    kept AS (
      SELECT k.doc_id, k.tp, k.tok
      FROM toktab k LEFT JOIN cover c
        ON k.doc_id = c.doc_id AND k.tp = c.tp
      WHERE c.doc_id IS NULL)
    SELECT t.doc_id,
           CAST(LEN(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(kc.cleaned_md5, md5('')) AS cleaned_md5
    FROM t LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY tp)) AS cleaned_md5
      FROM kept GROUP BY doc_id) kc USING (doc_id)
    """,
    doc="ExactSubstr span REMOVAL — the rewrite half of what "
    "dedup_substring_spans scores: every duplicated 15-token window "
    "keeps exactly one canonical occurrence (corpus-wide first, i.e. "
    "min (doc_id, pos) per window hash) and the tokens covered by every "
    "OTHER occurrence are dropped from their documents; emitted as "
    "per-doc kept-token counts plus an md5 of the cleaned token sequence "
    "(the actual corpus-rewrite deliverable, hash-verified end to end). "
    "Plan: window hashing map-side, one aggregate per window hash "
    "carrying (count, first-occurrence key) — 24 bytes of state per "
    "hash — one join back, a coverage explode that is at most k x the "
    "non-first dup windows, and a positional anti-join. Shuffles carry "
    "hashes and (doc_id, position) pairs; the only stage that touches "
    "token STRINGS again is the final per-doc re-assembly, partitioned "
    "by doc_id. The 1e6 position-packing constant bounds docs to 1M "
    "tokens — a documented contract, not a silent truncation.",
)
def dedup_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = SPAN_TOKENS
    base = load_fanned(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    wins = F.expr(
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> struct(i AS pos, md5(concat_ws(' ', slice(toks, i + 1, {k}))) AS h))"
    )
    w = (
        base.where(F.size("toks") >= k)
        .select("doc_id", F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    # Opt r15 (guide §2.4): `w` fed the per-hash aggregate AND the
    # join-back, so the window-hash explode ran twice (8 scans in
    # plans/r15/dedup_substring_remove_scan1.txt). COUNT / MIN OVER
    # (PARTITION BY h) are the identical exact integers with ONE pass
    # over one explode and no join — the dedup_cdc_chunks remedy.
    from pyspark.sql import Window

    wh = Window.partitionBy("h")
    nonfirst = (
        w.select(
            "doc_id",
            "pos",
            F.count("*").over(wh).alias("cnt"),
            F.min(F.col("doc_id") * 1000000 + F.col("pos"))
            .over(wh)
            .alias("first_key"),
        )
        .where(
            (F.col("cnt") > 1)
            & (F.col("doc_id") * 1000000 + F.col("pos") != F.col("first_key"))
        )
        .select("doc_id", "pos")
    )
    cover = nonfirst.select(
        "doc_id", F.explode(F.expr(f"sequence(pos, pos + {k} - 1)")).alias("tp")
    ).distinct()
    toktab = base.select(
        "doc_id", F.posexplode("toks").alias("tp", "tok")
    )
    kept = toktab.join(cover, ["doc_id", "tp"], "left_anti")
    kc = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list(struct(tp, tok))), s -> s.tok)"
                    ),
                )
            ).alias("cleaned_md5"),
        )
    )
    return (
        base.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(kc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-shaped: cluster, then prune within clusters)
# ---------------------------------------------------------------------------
_SEMDEDUP_EPS = 0.4

_SEMDEDUP_SCHEMA = (
    "vec_id bigint, label int, is_kept boolean, dup_of bigint, dup_cos double"
)


def _semdedup_cluster_kernel(pdf):
    """Per-cluster semantic prune: one GEMM over the cluster's vectors,
    then the closed-form keep rule — a vector is dropped iff it has an
    eps-neighbor with a smaller vec_id in the SAME cluster (dup_of = the
    smallest such id). Sorting by id first makes argmax-over-the-strict-
    lower-triangle exactly that smallest qualifying neighbor."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(np.int64)
    n = len(ids)
    m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    qual = (sims >= _SEMDEDUP_EPS) & np.tril(np.ones((n, n), dtype=bool), -1)
    has = qual.any(axis=1)
    first = np.where(has, qual.argmax(axis=1), 0)
    return pd.DataFrame(
        {
            "vec_id": ids,
            "label": pdf["label"].astype("int32"),
            "is_kept": ~has,
            "dup_of": pd.array(
                [int(ids[f]) if h else None for h, f in zip(has, first)],
                dtype="Int64",
            ),
            "dup_cos": np.where(has, sims[np.arange(n), first], np.nan),
        }
    )


@register(
    "dedup_semantic_clusters",
    # Keep rule is closed-form (exists a smaller-id eps-neighbor in the
    # cluster), so the whole SemDeDup decision — including WHICH neighbor
    # (the smallest id) and its 6dp cosine — hashes against SQL.
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS cs
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) >= 0.4),
    drops AS (SELECT b_id, MIN(a_id) AS dup_of FROM q GROUP BY b_id)
    SELECT e.vec_id, CAST(e.label AS INT) AS label,
           (d.b_id IS NULL) AS is_kept,
           d.dup_of,
           (SELECT q.cs FROM q WHERE q.a_id = d.dup_of AND q.b_id = d.b_id) AS dup_cos
    FROM e LEFT JOIN drops d ON e.vec_id = d.b_id
    """,
    doc="Semantic dedup, SemDeDup-shaped (Abbas et al. 2023): coarse-"
    "cluster the corpus, then prune near-duplicates WITHIN clusters only "
    "— the property that makes embedding dedup tractable at 100 TB "
    "(pair generation is N^2/C per cluster, not N^2, and each cluster "
    "prunes independently with no cross-cluster shuffle). Clusters here "
    "are the deterministic label groups (the same coarse-quantization "
    "trick similarity_ivf_topk uses, so the decision is exactly "
    "SQL-oracle-able; at scale the labels would come from "
    "kmeans_embeddings). Each cluster is one applyInPandas group doing "
    "a single normalized GEMM; oversized clusters would sub-block "
    "exactly like embedding_cosine_pairs' pack/block-pair path. The "
    "keep rule is the keep-first convention of the dedup_* family made "
    "closed-form: drop iff an eps-neighbor with a smaller vec_id exists "
    "in the cluster, recording that neighbor and its cosine.",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fanned(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    return e.groupBy("label").applyInPandas(
        _semdedup_cluster_kernel, schema=_SEMDEDUP_SCHEMA
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (round 8)
# ---------------------------------------------------------------------------
_CDC_K = 3  # rolling-window width (tokens) for the boundary hash
_CDC_MOD = 4  # boundary when hash % MOD == 0 -> expected chunk ~4 tokens
_CDC_HEX = "0123456789abcdef"


def _cdc_hash12(expr: str) -> str:
    """First three md5 nibbles of a seeded key -> 0..4095; template valid
    in both Spark SQL and DuckDB (the count-min _cm_col_expr scheme)."""
    k = f"md5(concat('cdc|', {expr}))"
    return (
        f"((instr('{_CDC_HEX}', substring({k}, 1, 1)) - 1) * 256"
        f" + (instr('{_CDC_HEX}', substring({k}, 2, 1)) - 1) * 16"
        f" + (instr('{_CDC_HEX}', substring({k}, 3, 1)) - 1))"
    )


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS MATERIALIZED (
      SELECT doc_id, UNNEST(range(1, LEN(toks) + 1)) AS pos,
             UNNEST(toks) AS tok,
             LEN(toks) AS n
      FROM t),
    win AS MATERIALIZED (
      SELECT a.doc_id, a.pos, a.tok, a.n,
             CASE WHEN a.pos >= {_CDC_K}
                  AND ({_cdc_hash12("w1 || ' ' || w2 || ' ' || tok")})
                      % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS cut
      FROM (SELECT doc_id, pos, tok, n,
                   LAG(tok, 2) OVER w AS w1, LAG(tok, 1) OVER w AS w2
            FROM pos
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) a),
    cidx AS MATERIALIZED (
      SELECT doc_id, pos, tok, n,
             SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cut AS cidx
      FROM win),
    chunks AS MATERIALIZED (
      SELECT doc_id, cidx, MAX(n) AS n,
             COUNT(*) AS c_toks,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
      FROM cidx GROUP BY doc_id, cidx),
    occ AS MATERIALIZED (
      SELECT chash, COUNT(*) AS n_occ FROM chunks GROUP BY chash)
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE o.n_occ > 1) AS BIGINT) AS n_dup_chunks,
           CAST(ROUND((CAST(COALESCE(SUM(c.c_toks) FILTER (WHERE o.n_occ > 1), 0)
                        AS DOUBLE) / MAX(c.n)) * 1000000) AS BIGINT)
               AS dup_token_ratio_e6
    FROM chunks c JOIN occ o USING (chash)
    GROUP BY c.doc_id
    """,
    doc="Content-defined chunking dedup (the LBFS/rsync/restic technique "
    "applied to text): chunk boundaries fall where a rolling 3-token "
    "hash hits 0 mod 4, so boundaries are a function of CONTENT, not "
    "position — insert one sentence and only the chunks around the edit "
    "change, while fixed-size chunking would shift-break every later "
    "chunk. Duplicated chunks are then exact hash matches corpus-wide "
    "(no pair join at all: one groupBy on the chunk hash), catching "
    "shifted shared regions that paragraph/fixed-window dedup misses. "
    "Scale shape: two window passes per doc partition + one "
    "vocabulary-sized hash aggregate; nothing quadratic, chunk hashes "
    "are the only shuffled payload. All integer/string domain except "
    "one final ratio (single IEEE divide, then scale-0 round).",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_fanned(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
        F.size(F.split("text", " ")).alias("n"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok", "n")
    w = Window.partitionBy("doc_id").orderBy("pos")
    win = pos.select(
        "doc_id",
        "pos",
        "tok",
        "n",
        F.lag("tok", 2).over(w).alias("w1"),
        F.lag("tok", 1).over(w).alias("w2"),
    ).select(
        "doc_id",
        "pos",
        "tok",
        "n",
        F.when(
            (F.col("pos") >= _CDC_K)
            & (
                F.expr(_cdc_hash12("w1 || ' ' || w2 || ' ' || tok"))
                % _CDC_MOD
                == 0
            ),
            1,
        )
        .otherwise(0)
        .alias("cut"),
    )
    cum = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cidx = win.select(
        "doc_id",
        "pos",
        "tok",
        "n",
        (F.sum("cut").over(cum) - F.col("cut")).alias("cidx"),
    )
    chunks = cidx.groupBy("doc_id", "cidx").agg(
        F.max("n").alias("n"),
        F.count("*").alias("c_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("chash"),
    )
    # Opt r15 (guide §2.4): `chunks` fed BOTH the occurrence count and
    # the join-back, so the whole posexplode + two-window chunking
    # pipeline executed twice. COUNT(*) OVER (PARTITION BY chash) is
    # the same exact integer as the groupBy+join n_occ and needs only
    # ONE pass over one chunk pipeline — no checkpoint, no join.
    joined = chunks.select(
        "doc_id",
        "c_toks",
        "n",
        F.count("*")
        .over(Window.partitionBy("chash"))
        .alias("n_occ"),
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(F.col("n_occ") > 1).cast("bigint").alias("n_dup_chunks"),
        F.round(
            (
                F.coalesce(
                    F.sum(F.when(F.col("n_occ") > 1, F.col("c_toks"))), F.lit(0)
                ).cast("double")
                / F.max("n")
            )
            * 1000000
        )
        .cast("bigint")
        .alias("dup_token_ratio_e6"),
    )
