"""Corpus-preparation operators a training-data pipeline runs at 100 TB:
document fingerprinting (winnowing), edit-distance near-dup blocking,
deterministic dataset splits, sequence packing, and weighted mixture
sampling.

No reference analogue (the reference is a single-table metrics ETL,
`spark_converter.py:20-28`); these are the §2B "beyond the reference"
operators the engine mandate adds. All are pure Catalyst expressions —
no Python UDFs — so they stay inside whole-stage codegen and scale
linearly with the corpus.

Determinism contract: every hash used for placement (splits, sampling
buckets) is ``md5`` of a stable key — identical lowercase hex in Spark and
DuckDB — so the oracle reproduces placement exactly, and a re-run on the
same corpus lands every document in the same shard. Never ``rand()``.

Tokenization matches ``llm/text.py``: whitespace split (the corpus is
pre-normalized; swap the regex tokenizer in one place if not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_fanned, load_table
from emr_with_custom_metrics_spark.registry import register

_HEX = "0123456789abcdef"


@register(
    "text_fingerprint_winnowing",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 2),
                   i -> md5(array_to_string(list_slice(toks, i, i + 3), ' '))) AS grams
        FROM t WHERE len(toks) >= 8
    ), f AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(grams) - 3),
                   j -> list_min(list_slice(grams, j, j + 4)))) AS fps
        FROM g
    )
    SELECT doc_id, UNNEST(fps) AS fingerprint FROM f
    """,
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the "
    "MOSS scheme): hash every 4-token shingle, keep the minimum hash of "
    "each sliding window of 5 — guarantees any shared run of ≥ 8 tokens "
    "between two documents shares a fingerprint, at ~1/5 the stored "
    "hashes of full shingling. All array HOFs (transform/slice/array_min) "
    "— per-row work, embarrassingly parallel, no shuffle until the "
    "fingerprint join a caller adds. md5 keeps the oracle bit-identical.",
)
def text_fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w = 4, 5
    d = load_fanned(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # n-k+1 k-grams exist for n tokens; winnowing needs ≥ 1 full window of
    # w grams → n ≥ k + w - 1. (Spark's sequence(1, m) DESCENDS for m < 1,
    # so the size guard is correctness, not just efficiency.)
    grams = F.expr(
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> md5(concat_ws(' ', slice(toks, i, {k}))))"
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(1, size(grams) - {w - 1}), "
        f"j -> array_min(slice(grams, j, {w}))))"
    )
    return (
        d.where(F.size("toks") >= k + w - 1)
        .select("doc_id", grams.alias("grams"))
        .select("doc_id", F.explode(fps).alias("fingerprint"))
    )


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH d AS (
        SELECT doc_id, n_chars // 64 AS blk,
               string_split(text, ' ')[1] AS tok0,
               substr(text, 1, 96) AS prefix
        FROM documents
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
    FROM d a JOIN d b
      ON a.blk = b.blk AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 24
    """,
    doc="Edit-distance near-duplicate pairs, blocked on (64-char length "
    "band, first token). The first-token key is the load-bearing part of "
    "the blocking spec: once documents exceed the 96-char prefix, every "
    "long doc shares a prefix length and a length band alone degenerates "
    "to near-all-pairs (measured 195 s at sf0.1 — 5k docs, ~3M pairs, "
    "O(96²) DP each; 2.4 s with the token key, 80× fewer candidates). "
    "Near-dups within edit distance 24/96 share their first token except "
    "under a leading-token edit — callers needing that recall add a "
    "second pass blocked on token 2, the standard multi-pass blocking "
    "scheme. Spark-side distance uses the 3-arg levenshtein threshold "
    "form (DP short-circuits above the cap; returns the exact distance "
    "below it, so kept rows hash-match DuckDB's plain levenshtein).",
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Opt r15: d feeds both self-join sides — staged so the scan +
    # split/substring projection runs once (guide §2.4; the compact
    # signature-table idiom of the shingle joins).
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("n_chars") / 64).cast("bigint").alias("blk"),
            F.split("text", " ").getItem(0).alias("tok0"),
            F.substring("text", 1, 96).alias("prefix"),
        )
        .localCheckpoint()
    )
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 24)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.tok0") == F.col("b.tok0"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(dist >= 0)
        .select(
            F.col("a.doc_id").alias("left_id"),
            F.col("b.doc_id").alias("right_id"),
            dist.cast("int").alias("edit_dist"),
        )
    )


@register(
    "dedup_levenshtein_multipass",
    oracle="""
    WITH d AS (
        SELECT doc_id, n_chars // 64 AS blk,
               string_split(text, ' ')[1] AS tok0,
               string_split(text, ' ')[2] AS tok1,
               substr(text, 1, 96) AS prefix
        FROM documents
    ),
    p AS (
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               levenshtein(a.prefix, b.prefix) AS dist
        FROM d a JOIN d b
          ON a.blk = b.blk AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id, levenshtein(a.prefix, b.prefix)
        FROM d a JOIN d b
          ON a.blk = b.blk AND a.tok1 = b.tok1 AND a.doc_id < b.doc_id
    )
    SELECT left_id, right_id, CAST(dist AS INT) AS edit_dist
    FROM p WHERE dist <= 24
    """,
    doc="The multi-pass blocking scheme ``dedup_levenshtein_blocked``'s "
    "docstring prescribes, as a first-class query: pass 1 blocks on "
    "(64-char length band, token 1), pass 2 on (band, token 2), and the "
    "union-distinct of the two passes recovers pairs whose edit touches "
    "the leading token — the single-pass variant's one recall hole. A "
    "pair caught by both passes carries the identical distance, so a "
    "plain distinct dedups the union. Cost is ~2x one pass (each pass "
    "keeps the same in-block quadratic bound); at production scale this "
    "is the standard recall/cost dial — add passes on more token "
    "positions, never widen a block. Docs with one token have a NULL "
    "token 2 and simply skip pass 2 in both engines (null-unsafe join).",
)
def dedup_levenshtein_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Opt r15: d feeds FOUR join sides (2 passes x 2 sides) — staged so
    # the scan + split/substring projection runs once (guide §2.4).
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("n_chars") / 64).cast("bigint").alias("blk"),
            F.split("text", " ").getItem(0).alias("tok0"),
            F.split("text", " ").getItem(1).alias("tok1"),
            F.substring("text", 1, 96).alias("prefix"),
        )
        .localCheckpoint()
    )

    def one_pass(key: str) -> DataFrame:
        a, b = d.alias("a"), d.alias("b")
        dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), 24)
        return (
            a.join(
                b,
                (F.col("a.blk") == F.col("b.blk"))
                & (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .where(dist >= 0)
            .select(
                F.col("a.doc_id").alias("left_id"),
                F.col("b.doc_id").alias("right_id"),
                dist.cast("int").alias("edit_dist"),
            )
        )

    return one_pass("tok0").unionByName(one_pass("tok1")).distinct()


@register(
    "split_train_valid_test",
    oracle=f"""
    WITH assigned AS (
        SELECT source,
               CASE WHEN b <= 12 THEN 'train'
                    WHEN b <= 14 THEN 'valid'
                    ELSE 'test' END AS split_name
        FROM (
            SELECT source,
                   instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS b
            FROM documents
        )
    )
    SELECT split_name, COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources
    FROM assigned GROUP BY split_name
    """,
    doc="Deterministic 75/12.5/12.5 train/valid/test split: the first hex "
    "nibble of md5(doc_id) picks the shard. Hash-based (never rand()) so "
    "membership is a pure function of the id — re-runs, backfills, and "
    "incremental batches land every document in the same split, and the "
    "assignment needs no shuffle at all (map-side expression). The "
    "per-split source count verifies every split draws from all sources.",
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"instr('{_HEX}', substring(md5(cast(doc_id as string)), 1, 1))")
    split_name = (
        F.when(bucket <= 12, "train").when(bucket <= 14, "valid").otherwise("test")
    )
    return (
        d.select(split_name.alias("split_name"), "source")
        .groupBy("split_name")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "pack_token_chunks",
    oracle="""
    WITH sized AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ), spans AS (
        SELECT source, doc_id, n_tok,
               CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT)
                   AS tok_start,
               CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        FROM sized
    ), chunked AS (
        SELECT source, doc_id, tok_start, tok_end,
               UNNEST(generate_series(tok_start // 256, (tok_end - 1) // 256))
                   AS chunk_id
        FROM spans
    )
    SELECT source, chunk_id, COUNT(*) AS n_docs,
           CAST(SUM(LEAST(tok_end, (chunk_id + 1) * 256)
               - GREATEST(tok_start, chunk_id * 256)) AS BIGINT) AS chunk_tokens
    FROM chunked GROUP BY source, chunk_id
    """,
    doc="Concat-and-chunk sequence packing (the LM-pretraining layout): "
    "per source, documents concatenate in doc_id order into a token "
    "stream cut into 256-token chunks; a document spanning a boundary "
    "contributes to both chunks. One window per source computes the "
    "spans (single shuffle on source), the chunk fan-out is a sequence "
    "explode — no iteration, no driver state. Every chunk but each "
    "source's last sums to exactly 256 tokens, which the oracle checks "
    "value-by-value. At 100 TB the source partitioning bounds window "
    "state; for a single giant source, pre-bucket by (source, "
    "doc_id div N) and offset chunk ids by a per-bucket base.",
)
def pack_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    budget = 256
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    win = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = d.select(
        "source",
        "doc_id",
        (F.sum("n_tok").over(win) - F.col("n_tok")).alias("tok_start"),
        F.sum("n_tok").over(win).alias("tok_end"),
    )
    chunked = spans.select(
        "source",
        "tok_start",
        "tok_end",
        F.explode(
            F.sequence(
                F.expr(f"tok_start div {budget}"), F.expr(f"(tok_end - 1) div {budget}")
            )
        ).alias("chunk_id"),
    )
    in_chunk = F.least(
        F.col("tok_end"), (F.col("chunk_id") + 1) * budget
    ) - F.greatest(F.col("tok_start"), F.col("chunk_id") * budget)
    return chunked.groupBy("source", "chunk_id").agg(
        F.count("*").alias("n_docs"), F.sum(in_chunk).alias("chunk_tokens")
    )


@register(
    "mixture_sample_weighted",
    oracle=f"""
    WITH rated AS (
        SELECT source,
               (instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
               + instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS b,
               64 * (CAST(substr(source, 4) AS INT) % 3 + 1) AS keep_below
        FROM documents
    )
    SELECT source, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN b < keep_below THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM rated GROUP BY source
    """,
    doc="Weighted mixture sampling: each source keeps a configured "
    "fraction (here 25/50/75% by source number mod 3 — stand-in for a "
    "real mixture config) chosen by the first md5 byte of doc_id against "
    "a 256-bucket threshold. Deterministic membership (same doc always "
    "kept or dropped — stable across re-runs and incremental loads, "
    "unlike df.sample), map-side only, integer compare. The oracle "
    "recomputes placement exactly.",
)
def mixture_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = (
        (F.expr(f"instr('{_HEX}', substring(md5(cast(doc_id as string)), 1, 1))") - 1) * 16
        + F.expr(f"instr('{_HEX}', substring(md5(cast(doc_id as string)), 2, 1))")
        - 1
    )
    keep_below = 64 * (F.substring("source", 4, 10).cast("int") % 3 + 1)
    return (
        d.select("source", b.alias("b"), keep_below.alias("keep_below"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("b") < F.col("keep_below"), 1).otherwise(0)).alias("n_kept"),
        )
    )


@register(
    "text_heavy_hitters",
    oracle="""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), total AS (
        SELECT SUM(cnt) AS t FROM counts
    )
    SELECT token, cnt, CAST((CAST(ROUND((cnt / t) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS DOUBLE) AS share
    FROM counts, total
    WHERE cnt > t / 200
    """,
    doc="Exact heavy hitters: tokens above 0.5% of corpus mass, with "
    "share-of-total. Partial aggregation does the heavy lifting "
    "map-side (vocabulary, not corpus, crosses the shuffle); the 1-row "
    "total re-attaches via broadcast cross join. The exact ground truth "
    "a count-min/SpaceSaving sketch would be validated against.",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") > F.col("t") / 200)
        .select(
            "token",
            "cnt",
            (F.round((F.col("cnt") / F.col("t")) * 1000000).cast("bigint") / 1000000.0).cast("double").alias("share"),
        )
    )


_DECONTAMINATE_ORACLE = """
    WITH tr AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE source <> 'src0'
    ), ev AS (
        SELECT DISTINCT g FROM (
            SELECT UNNEST(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS g
            FROM (SELECT string_split(text, ' ') AS toks FROM documents
                  WHERE source = 'src0')
            WHERE len(toks) >= 5
        )
    ), hits AS (
        SELECT doc_id, COUNT(DISTINCT g) AS n_hits
        FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(list_slice(toks, i, i + 4), ' '))) AS g
            FROM tr WHERE len(toks) >= 5
        ) tg JOIN ev USING (g)
        GROUP BY doc_id
    )
    SELECT t.doc_id, COALESCE(h.n_hits, 0) AS n_overlap_5grams,
           COALESCE(h.n_hits, 0) >= 3 AS contaminated
    FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """


@register(
    "decontaminate_against_eval",
    oracle=_DECONTAMINATE_ORACLE,
    doc="Benchmark decontamination: flag training documents sharing ≥3 "
    "distinct 5-gram spans with the held-out eval set (src0 stands in "
    "for the benchmark). The eval side reduces to a DISTINCT 5-gram set "
    "— small enough to broadcast at any realistic benchmark size — so "
    "the screen is a broadcast semi-join against the training n-gram "
    "stream: no shuffle of the corpus, cost linear in training tokens. "
    "The standard pre-training hygiene pass (GPT-3 §4 / PaLM App. published "
    "methodology), exact rather than hashed so the oracle reproduces it.",
)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    k = 5
    grams = F.expr(
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {k})))"
    )
    # No size filter on the OUTPUT side: a <k-token training doc is still a
    # training doc — it appears with 0 overlap (r2 ADVICE; matches the
    # oracle's unfiltered tr CTE). The k-token floor applies only where
    # grams are generated, since sequence(1, n) runs DESCENDING for n < 1
    # and would emit bogus slice indices.
    train = d.where(F.col("source") != "src0").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    ev_grams = (
        d.where(F.col("source") == "src0")
        .select(F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= k)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    hits = (
        train.where(F.size("toks") >= k)
        .select("doc_id", F.explode(grams).alias("g"))
        .join(F.broadcast(ev_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_overlap_5grams"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3).alias("contaminated"),
        )
    )


@register(
    "knn_self_join_exact",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               list_aggregate(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)), 'sum') AS dot
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT qid, nid, dot,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY dot DESC, nid) AS rn
        FROM pairs
    )
    SELECT qid, nid, CAST((CAST(ROUND((dot) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS DOUBLE) AS dot, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="Exact k-NN self-join (top-3 neighbors per vector by dot product) "
    "— the ground-truth baseline the ANN pair path "
    "(similarity_ann_lsh) trades against, and the exact shape used to "
    "measure ANN recall offline. Deliberately quadratic (documented "
    "small-N oracle, like dedup_embedding_cosine); at corpus scale the "
    "LSH/IVF paths produce the candidates and this plan reranks within "
    "buckets only. Dot products fold left-to-right over the same 64 "
    "floats in both engines → 6-dp rounding is bit-stable; ties broken "
    "by neighbor id so ROW_NUMBER is deterministic.",
)
def knn_self_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_fanned(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    b = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"))
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid"))
    return (
        a.crossJoin(b)
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", dot.alias("dot"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", "nid", (F.round((F.col("dot")) * 1000000).cast("bigint") / 1000000.0).cast("double").alias("dot"),
                F.col("rn").cast("int").alias("rn"))
    )


@register(
    "corpus_report_by_source",
    oracle="""
    WITH base AS (
        SELECT source, doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tok,
               md5(text) AS h
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((CAST(ROUND((AVG(n_chars)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS DOUBLE) AS avg_chars,
           COUNT(DISTINCT h) AS n_unique_texts,
           CAST((CAST(ROUND((1.0 - COUNT(DISTINCT h) / COUNT(*)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS DOUBLE)
               AS exact_dup_rate
    FROM base GROUP BY source
    """,
    doc="Per-source corpus report: the one-stop table a data curator "
    "reads before a training run — volume (docs, tokens), shape "
    "(avg chars), and exact-duplicate rate via md5 distinct counts. One "
    "aggregation pass; the md5 runs map-side so the shuffle carries "
    "16-byte hashes, never text (the dedup_exact discipline applied to "
    "reporting).",
)
def corpus_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tok"),
            F.md5("text").alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            (F.round((F.avg("n_chars")) * 100).cast("bigint") / 100.0).cast("double").alias("avg_chars"),
            F.countDistinct("h").alias("n_unique_texts"),
            (F.round((F.lit(1.0) - F.countDistinct("h") / F.count("*")) * 10000).cast("bigint") / 10000.0).cast("double").alias("exact_dup_rate"),
        )
    )


@register(
    "e2e_corpus_pipeline",
    oracle=f"""
    WITH deduped AS (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ), kept AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        FROM deduped WHERE rn = 1
    ), quality AS (
        SELECT * FROM kept WHERE n_tok >= 8
    ), assigned AS (
        SELECT source, n_tok,
               CASE WHEN b <= 12 THEN 'train'
                    WHEN b <= 14 THEN 'valid' ELSE 'test' END AS split_name
        FROM (SELECT *,
                     instr('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS b
              FROM quality)
    )
    SELECT split_name, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tok) + 255) // 256 AS BIGINT) AS n_chunks
    FROM assigned GROUP BY split_name, source
    """,
    doc="The END-TO-END training-data pipeline as one composed lazy plan: "
    "exact dedup (md5 keep-first) → quality floor (≥8 tokens) → "
    "deterministic split assignment → per-(split, source) packing "
    "summary (contiguous 256-token chunks ⇒ n_chunks = ⌈tokens/256⌉). "
    "Each stage is the same logic as its standalone operator "
    "(dedup_keep_first_by_key / split_train_valid_test / "
    "pack_token_chunks); composing them stays ONE shuffle-per-stage DAG "
    "with no driver materialization between stages — the property that "
    "makes the pipeline a single job at 100 TB. Oracled end-to-end, so "
    "a drift in ANY stage breaks the hash.",
)
def e2e_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "source", F.size(F.split("text", " ")).alias("n_tok"))
        .where(F.col("n_tok") >= 8)
    )
    bucket = F.expr(f"instr('{_HEX}', substring(md5(cast(doc_id as string)), 1, 1))")
    split_name = (
        F.when(bucket <= 12, "train").when(bucket <= 14, "valid").otherwise("test")
    )
    return (
        kept.select(split_name.alias("split_name"), "source", "n_tok")
        .groupBy("split_name", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            ((F.sum("n_tok") + 255) / 256).cast("bigint").alias("n_chunks"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: same answer, sketch-sized broadcast
# ---------------------------------------------------------------------------
BLOOM_BITS = 1 << 16  # 64 Kbit filter = 1024 longs (8 KB broadcast)
BLOOM_HASHES = 3


@register(
    "decontaminate_bloom_prefilter",
    # IDENTICAL oracle to decontaminate_against_eval: a Bloom filter has no
    # false negatives (every eval gram sets its own bits) and the exact
    # verify join removes the false positives, so the final answer is
    # bit-for-bit the exact screen's.
    oracle=_DECONTAMINATE_ORACLE,
    doc="The sketch-accelerated form of ``decontaminate_against_eval``: "
    "the eval 5-gram set is folded into a 64 Kbit Bloom filter BUILT IN "
    "DATAFRAME OPS (k=3 xxhash64 bit positions per gram, exploded, "
    "bit_or-aggregated into 1024 64-bit words — Spark ships no public "
    "bloom_filter_agg, measured UNRESOLVED_ROUTINE), broadcast at 8 KB "
    "instead of the full gram set, probed map-side (a gram survives only "
    "if ALL k bits hit), and survivors alone reach the exact semi-join "
    "that removes false positives. At real benchmark scale the exact "
    "gram set is GBs — too big to broadcast — while the bloom stays KBs "
    "and the exact join runs on the few-percent survivor stream; "
    "accuracy is untouched, which is why the oracle is shared verbatim.",
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    k = 5
    grams = F.expr(
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {k})))"
    )
    train = d.where(F.col("source") != "src0").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    ev_grams = (
        d.where(F.col("source") == "src0")
        .select(F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= k)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )

    def bit_positions(gcol):
        return F.array(
            *[
                F.pmod(F.xxhash64(gcol, F.lit(i)), F.lit(BLOOM_BITS))
                for i in range(BLOOM_HASHES)
            ]
        )

    # Build: explode each gram's k bit positions, OR them into 64-bit words.
    bloom = (
        ev_grams.select(F.explode(bit_positions(F.col("g"))).alias("bit"))
        .select(
            (F.col("bit") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )

    # Probe: every training gram checks its k bits against the broadcast
    # word table; count-of-hits == k means "possibly in the eval set".
    tg = train.where(F.size("toks") >= k).select("doc_id", F.explode(grams).alias("g"))
    probe = tg.select(
        "doc_id", "g", F.posexplode(bit_positions(F.col("g"))).alias("i", "bit")
    ).select(
        "doc_id", "g", (F.col("bit") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("m"),
    )
    survivors = (
        probe.join(F.broadcast(bloom), "word")
        .where((F.col("mask").bitwiseAND(F.col("m"))) == F.col("m"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("nbits"))
        .where(F.col("nbits") == BLOOM_HASHES)
        .select("doc_id", "g")
    )
    # Exact verify on survivors only — false positives die here.
    hits = (
        survivors.join(F.broadcast(ev_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hits"))
    )
    return train.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_overlap_5grams"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3).alias("contaminated"),
    )


def _cm_col_expr(r: int) -> str:
    """Column index of ``token`` in count-min hash row ``r`` (w = 128).

    Three md5 nibbles of a seeded key -> 0..4095, reduced mod 128. The text
    is valid in BOTH Spark SQL and DuckDB (same md5 hex, same 1-based
    instr/substring, non-negative %), so the sketch the oracle builds is
    bit-identical to the engine's — one template, two engines, zero drift.
    """
    k = f"md5(concat('cm{r}|', token))"
    return (
        f"((instr('{_HEX}', substring({k}, 1, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substring({k}, 2, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({k}, 3, 1)) - 1)) % 128"
    )


# Sketch domain is word BIGRAMS, not unigrams: the synthetic corpus has a
# 31-token vocabulary, so unigrams over any reasonable width would never
# collide and the sketch's one-sided error would be vacuously zero. Bigrams
# (~|V|^2 distinct) over w=128 give every cell real colliding mass.
_CM_ORACLE = f"""
    WITH tok AS (
        SELECT UNNEST(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS token
        FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2
    ), cells AS (
        SELECT r, col, COUNT(*) AS cell_cnt FROM (
            SELECT 0 AS r, {_cm_col_expr(0)} AS col FROM tok
            UNION ALL SELECT 1, {_cm_col_expr(1)} FROM tok
            UNION ALL SELECT 2, {_cm_col_expr(2)} FROM tok
            UNION ALL SELECT 3, {_cm_col_expr(3)} FROM tok
        ) GROUP BY r, col
    ), exact AS (
        SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token
        ORDER BY exact_cnt DESC, token LIMIT 20
    ), probes AS (
        SELECT token, exact_cnt, 0 AS r, {_cm_col_expr(0)} AS col FROM exact
        UNION ALL SELECT token, exact_cnt, 1, {_cm_col_expr(1)} FROM exact
        UNION ALL SELECT token, exact_cnt, 2, {_cm_col_expr(2)} FROM exact
        UNION ALL SELECT token, exact_cnt, 3, {_cm_col_expr(3)} FROM exact
    )
    SELECT token, exact_cnt,
           CAST(MIN(cell_cnt) AS BIGINT) AS cm_est,
           CAST(MIN(cell_cnt) - exact_cnt AS BIGINT) AS overcount
    FROM probes JOIN cells USING (r, col)
    GROUP BY token, exact_cnt
"""


@register(
    "sketch_countmin_heavy_hitters",
    oracle=_CM_ORACLE,
    doc="Count-min sketch (Cormode & Muthukrishnan, J.Alg 2005): a 4x512 "
    "counter array replaces the full vocabulary — the fixed-size frequency "
    "summary a 100 TB corpus pass ships to the driver when the exact "
    "vocabulary (text_heavy_hitters) no longer fits anywhere. Hashes are "
    "seeded md5 nibbles, so unlike most sketches this one is fully "
    "deterministic and the DuckDB oracle rebuilds the IDENTICAL sketch "
    "from one shared expression template and hash-verifies estimates, "
    "overcounts included (CM error is one-sided: est >= exact always; "
    "est <= exact + e/w*N with prob 1-(1/2)^d at d=4, w=128; the domain "
    "is word bigrams so collisions actually occur — see _CM_ORACLE note). "
    "Plan shape: one explode -> 4-row stack -> 512-cell aggregate "
    "(map-side partial agg means the BIGRAM VOCABULARY never crosses the "
    "shuffle, only <=512 cells per task), probe side joins the broadcast "
    "sketch.",
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    w = F.split("text", " ")
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - 2, F.lit(0))),
            lambda i: F.array_join(F.slice(w, (i + 1).cast("int"), 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = d.select(F.explode(bigrams).alias("token"))

    stack = ", ".join(f"{r}, ({_cm_col_expr(r)})" for r in range(4))
    cells = (
        tok.selectExpr(f"stack(4, {stack}) AS (r, col)")
        .groupBy("r", "col")
        .agg(F.count("*").alias("cell_cnt"))
    )

    exact = (
        tok.groupBy("token")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(20)
    )
    probes = exact.selectExpr(
        "token", "exact_cnt", f"stack(4, {stack}) AS (r, col)"
    )
    return (
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("token", "exact_cnt")
        .agg(
            F.min("cell_cnt").cast("bigint").alias("cm_est"),
            (F.min("cell_cnt") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
        )
    )


@register(
    "pack_chunks_overlap",
    oracle="""
    WITH sized AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_tok
        FROM documents WHERE doc_id < 200
    ), starts AS (
        SELECT doc_id, toks, n_tok,
               UNNEST(generate_series(0, GREATEST(n_tok - 1, 0), 48)) AS start
        FROM sized
    )
    SELECT doc_id,
           CAST(start / 48 AS BIGINT) AS chunk_idx,
           CAST(LEAST(n_tok, start + 64) - start AS BIGINT) AS chunk_tokens,
           md5(array_to_string(list_slice(toks, start + 1, start + 64), ' '))
             AS chunk_digest
    FROM starts
    """,
    doc="Sliding-window chunking with overlap (chunk 64 tokens, stride 48 "
    "-> 16-token overlap): the RAG/embedding-index layout, complementary "
    "to pack_token_chunks' cross-document packing — retrieval chunks "
    "must NOT cross document boundaries and must overlap so no answer "
    "span is split. chunk_digest is the md5 of the chunk TEXT: a "
    "content-defined id that is stable under re-partitioning, re-runs, "
    "and upstream reordering — what you key the vector index on so "
    "re-embedding is incremental. Pure explode + slice, no shuffle at "
    "all until a consumer aggregates.",
)
def pack_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("n_tok", F.size("toks"))
    )
    starts = d.select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_tok") - 1, F.lit(0)), F.lit(48))
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / 48).cast("bigint").alias("chunk_idx"),
        (F.least(F.col("n_tok"), F.col("start") + 64) - F.col("start"))
        .cast("bigint")
        .alias("chunk_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("start") + 1, 64))
        ).alias("chunk_digest"),
    )


@register(
    "similarity_hard_negatives",
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 40
    ), pairs AS (
        SELECT q.qid, e.vec_id AS nid, e.label AS neg_label,
               list_aggregate(list_transform(range(1, 65),
                   i -> CAST(q.qv[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE)), 'sum') AS dot
        FROM q JOIN embeddings e ON e.label <> q.qlabel
    ), ranked AS (
        SELECT qid, nid, neg_label, dot,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY dot DESC, nid) AS rn
        FROM pairs
    )
    SELECT qid, nid, neg_label, CAST((CAST(ROUND((dot) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS DOUBLE) AS dot,
           CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="Hard-negative mining for contrastive training: per query vector, "
    "the top-3 most similar vectors carrying a DIFFERENT label — the "
    "examples that teach an embedding model the most (easy random "
    "negatives quickly contribute ~zero gradient; hard negatives are "
    "what MultipleNegativesRankingLoss-style training mines for). Same "
    "deterministic ordered-fold dot products as knn_self_join_exact; "
    "the bounded 40-query demo scans all candidates — at corpus scale "
    "the candidate set comes from the IVF probe (similarity_ivf_topk) "
    "and this plan reranks within probed cells only.",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cand = e.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("nv"),
        F.col("label").alias("neg_label"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid"))
    return (
        F.broadcast(q)
        .join(cand, F.col("neg_label") != F.col("qlabel"))
        .select("qid", "nid", "neg_label", dot.alias("dot"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", "nid", "neg_label", (F.round((F.col("dot")) * 1000000).cast("bigint") / 1000000.0).alias("dot"),
                F.col("rn").cast("int").alias("rn"))
    )


@register(
    "corpus_negative_samples",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS nd FROM documents),
    samples AS (
        SELECT doc_id, r AS neg_rank,
               ((instr('{_HEX}', substr(md5('neg' || CAST(r AS VARCHAR) || '|'
                        || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
              + (instr('{_HEX}', substr(md5('neg' || CAST(r AS VARCHAR) || '|'
                        || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
              + (instr('{_HEX}', substr(md5('neg' || CAST(r AS VARCHAR) || '|'
                        || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
              + (instr('{_HEX}', substr(md5('neg' || CAST(r AS VARCHAR) || '|'
                        || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % nd AS raw
        FROM documents, n, (SELECT UNNEST([1, 2, 3]) AS r)
        WHERE doc_id < 200
    )
    SELECT doc_id, neg_rank,
           CAST(CASE WHEN raw = doc_id THEN (raw + 1) % (SELECT nd FROM n)
                     ELSE raw END AS BIGINT) AS neg_doc_id
    FROM samples
    """,
    doc="Deterministic random negatives for contrastive pairs: 3 "
    "hash-sampled other documents per anchor (the EASY negatives that "
    "complement similarity_hard_negatives' hard ones; real batches mix "
    "both). md5-derived indices make the sample reproducible across "
    "runs and partitionings — the property rand() can never give a "
    "100 TB pipeline — and the self-collision rule (raw == anchor -> "
    "next index) is part of the oracled contract rather than a resample "
    "loop, so the SQL replays it exactly.",
)
def corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nd_df = d.agg(F.count("*").alias("nd"))
    anchors = d.where(F.col("doc_id") < 200).select("doc_id")
    ranks = anchors.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("neg_rank")
    )
    k = "md5(concat('neg', CAST(neg_rank AS STRING), '|', CAST(doc_id AS STRING)))"
    raw = (
        f"((instr('{_HEX}', substring({k}, 1, 1)) - 1) * 4096"
        f" + (instr('{_HEX}', substring({k}, 2, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substring({k}, 3, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({k}, 4, 1)) - 1)) % nd"
    )
    return (
        ranks.crossJoin(F.broadcast(nd_df))
        .selectExpr("doc_id", "neg_rank", f"{raw} AS raw", "nd")
        .select(
            "doc_id",
            "neg_rank",
            F.when(F.col("raw") == F.col("doc_id"), (F.col("raw") + 1) % F.col("nd"))
            .otherwise(F.col("raw"))
            .cast("bigint")
            .alias("neg_doc_id"),
        )
    )


@register(
    "corpus_curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS src_rank
      FROM documents),
    sizes AS MATERIALIZED (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source),
    pk AS MATERIALIZED (
      SELECT list(struct_pack(s := source, n := n) ORDER BY source) AS arr
      FROM sizes)
    SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
           CAST(list_sum(list_transform(p.arr,
                  e -> LEAST(src_rank - 1, e.n)
                     + CASE WHEN e.n >= src_rank AND e.s < source
                            THEN 1 ELSE 0 END)) + 1 AS BIGINT)
             AS curriculum_pos
    FROM ranked CROSS JOIN pk p
    """,
    doc="Curriculum ordering with source interleave: rank documents "
    "inside each source by a quality proxy (n_chars, ties to doc_id), "
    "then emit the GLOBAL training order that round-robins across "
    "sources at equal rank — the deterministic data-ordering step a "
    "curriculum-trained run wants (best of every source first, no "
    "source monopolizing a training window). (source, src_rank) is "
    "unique, so the global position has a CLOSED FORM over the "
    "model-sized source-size table: pos = sum_s' min(rank-1, n_s') + "
    "#{s' < source with n_s' >= rank} + 1, computed as a broadcast "
    "array fold per row (r12: replaces the old global ROW_NUMBER — one "
    "task sorted every document; answers byte-identical). One shuffle "
    "by source for the per-source rank; everything else is map-side.",
)
def corpus_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
        )
        .alias("src_rank"),
    )
    sizes = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    pk = sizes.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("source").alias("s"), F.col("n")))
        ).alias("arr")
    )
    return ranked.crossJoin(F.broadcast(pk)).selectExpr(
        "doc_id",
        "source",
        "CAST(src_rank AS BIGINT) AS src_rank",
        "CAST(aggregate(arr, CAST(0 AS BIGINT), (a, e) -> a"
        " + least(CAST(src_rank AS BIGINT) - 1, e.n)"
        " + IF(e.n >= src_rank AND e.s < source, CAST(1 AS BIGINT),"
        " CAST(0 AS BIGINT))) + 1 AS BIGINT) AS curriculum_pos",
    )


@register(
    "e2e_span_dedup_pipeline",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
      SELECT doc_id,
             UNNEST(range(LEN(toks) - 15 + 1)) AS pos,
             UNNEST(list_transform(range(LEN(toks) - 15 + 1),
               i -> md5(array_to_string(
                      list_slice(toks, i + 1, i + 15), ' ')))) AS h
      FROM t WHERE LEN(toks) >= 15),
    g AS (SELECT h, COUNT(*) AS cnt,
                 MIN(doc_id * 1000000 + pos) AS first_key
          FROM w GROUP BY h),
    nonfirst AS (
      SELECT w.doc_id, w.pos FROM w JOIN g USING (h)
      WHERE g.cnt > 1 AND w.doc_id * 1000000 + w.pos <> g.first_key),
    cover AS (
      SELECT doc_id, COUNT(DISTINCT tp) AS n_covered
      FROM (SELECT doc_id, UNNEST(range(pos, pos + 15)) AS tp FROM nonfirst)
      GROUP BY doc_id),
    kept AS (
      SELECT t.doc_id,
             CAST(LEN(t.toks) - COALESCE(c.n_covered, 0) AS BIGINT) AS n_kept
      FROM t LEFT JOIN cover c USING (doc_id)),
    surviving AS (
      SELECT d.source, d.doc_id, k.n_kept
      FROM documents d JOIN kept k USING (doc_id)
      WHERE k.n_kept >= 15),
    spans AS (
      SELECT source, doc_id, n_kept,
             CAST(SUM(n_kept) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_kept
                  AS BIGINT) AS tok_start,
             CAST(SUM(n_kept) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS tok_end
      FROM surviving),
    chunked AS (
      SELECT source, doc_id, tok_start, tok_end,
             UNNEST(generate_series(tok_start // 256, (tok_end - 1) // 256))
                 AS chunk_id
      FROM spans WHERE tok_end > tok_start)
    SELECT source, chunk_id, COUNT(*) AS n_docs,
           CAST(SUM(LEAST(tok_end, (chunk_id + 1) * 256)
               - GREATEST(tok_start, chunk_id * 256)) AS BIGINT) AS chunk_tokens
    FROM chunked GROUP BY source, chunk_id
    """,
    doc="END-TO-END span-dedup pipeline: the ExactSubstr REWRITE "
    "(dedup_substring_remove's canonical-occurrence token removal) feeds "
    "a length screen (docs shrunk below 15 kept tokens drop — the "
    "near-empty shells left after boilerplate removal) and the "
    "concat-and-chunk packer re-packs the CLEANED token counts into "
    "256-token training chunks per source. Proves the corpus REWRITE "
    "composes with downstream assembly as one oracled DAG — the "
    "deliverable a span-dedup stage actually hands to tokenization. "
    "Plan: the removal's hash aggregate + coverage anti-join feed a "
    "per-source window; shuffles carry counts and hashes, never text.",
)
def e2e_span_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emr_with_custom_metrics_spark.llm.dedup import dedup_substring_remove

    budget = 256
    removed = dedup_substring_remove(spark, sf_dir).select("doc_id", "n_kept")
    src = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    surviving = removed.join(src, "doc_id").where(F.col("n_kept") >= 15)
    win = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = surviving.select(
        "source",
        "doc_id",
        (F.sum("n_kept").over(win) - F.col("n_kept")).alias("tok_start"),
        F.sum("n_kept").over(win).alias("tok_end"),
    ).where(F.col("tok_end") > F.col("tok_start"))
    chunked = spans.select(
        "source",
        "tok_start",
        "tok_end",
        F.explode(
            F.sequence(
                F.expr(f"tok_start div {budget}"),
                F.expr(f"(tok_end - 1) div {budget}"),
            )
        ).alias("chunk_id"),
    )
    return chunked.groupBy("source", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.least(F.col("tok_end"), (F.col("chunk_id") + 1) * budget)
            - F.greatest(F.col("tok_start"), F.col("chunk_id") * budget)
        )
        .cast("bigint")
        .alias("chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# DSIR-shaped importance resampling (Xie et al. 2023, NeurIPS)
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 256
_DSIR_KEEP = 125


def _md5_nibble(expr: str, i: int) -> str:
    """SQL fragment (valid in both engines): i-th hex nibble of md5(expr)
    as 0..15 — the repo's cross-engine hash-randomness primitive."""
    return f"(instr('{_HEX}', substr(md5({expr}), {i}, 1)) - 1)"


@register(
    "corpus_importance_resample",
    # Float discipline: the per-bucket log-ratio is rounded to an exact
    # 1e-6-scaled BIGINT before the per-doc SUM, so the sum is integer
    # arithmetic — immune to cross-engine float-add ordering no matter how
    # many tokens a doc has. The Gumbel key is then two LN calls on
    # identical doubles.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
    tb AS (
      SELECT doc_id,
             {_md5_nibble('term', 1)} * 16 + {_md5_nibble('term', 2)} AS b
      FROM tok),
    tgt AS (
      SELECT b, COUNT(*) AS c FROM tb JOIN documents USING (doc_id)
      WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, COUNT(*) AS c FROM tb GROUP BY b),
    tots AS (
      SELECT (SELECT SUM(c) FROM tgt) AS nt, (SELECT SUM(c) FROM raw) AS nr),
    lr AS (
      SELECT raw.b,
             CAST(ROUND((LN((COALESCE(tgt.c, 0) + 1.0) / (nt + {_DSIR_BUCKETS}.0))
                       - LN((raw.c + 1.0) / (nr + {_DSIR_BUCKETS}.0))) * 1000000)
                  AS BIGINT) AS w6
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots),
    perdoc AS (
      SELECT tb.doc_id, SUM(w6) AS sw6 FROM tb JOIN lr USING (b)
      GROUP BY tb.doc_id),
    keyed AS (
      SELECT d.doc_id, d.lang, perdoc.sw6 / 1000000.0 AS logw,
             ({_md5_nibble('CAST(d.doc_id AS VARCHAR)', 1)} * 1048576.0
            + {_md5_nibble('CAST(d.doc_id AS VARCHAR)', 2)} * 65536.0
            + {_md5_nibble('CAST(d.doc_id AS VARCHAR)', 3)} * 4096.0
            + {_md5_nibble('CAST(d.doc_id AS VARCHAR)', 4)} * 256.0
            + {_md5_nibble('CAST(d.doc_id AS VARCHAR)', 5)} * 16.0
            + {_md5_nibble('CAST(d.doc_id AS VARCHAR)', 6)} + 0.5) / 16777216.0 AS u
      FROM documents d JOIN perdoc USING (doc_id)),
    scored AS MATERIALIZED (
      -- referenced by thr AND the final flag pass — materialize or
      -- DuckDB re-runs the scoring pipeline per reference
      SELECT doc_id, lang,
             (CAST(ROUND((logw) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS log_importance,
             (CAST(ROUND((logw - LN(-LN(u))) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS sel_key
      FROM keyed),
    thr AS MATERIALIZED (
      -- the top-k BOUNDARY (k-th (sel_key desc, doc_id) pair): a k-row
      -- sort-limit instead of a global ROW_NUMBER over every document
      -- (r11 audit rule) — selected is then a broadcast comparison
      SELECT sel_key AS tk, doc_id AS td FROM scored
      ORDER BY sel_key DESC, doc_id LIMIT {_DSIR_KEEP}),
    bnd AS (
      SELECT tk, td FROM thr ORDER BY tk ASC, td DESC LIMIT 1)
    SELECT doc_id, lang, log_importance, sel_key,
           (sel_key > b.tk OR (sel_key = b.tk AND doc_id <= b.td))
             AS selected
    FROM scored CROSS JOIN bnd b
    """,
    doc="Data Selection via Importance Resampling, DSIR-shaped (Xie et "
    "al. 2023): estimate hashed-unigram bag-of-words LMs for a TARGET "
    "domain (lang='en' here) and the RAW corpus — 256 md5 buckets with "
    "add-one smoothing — score every document by its summed "
    "log-importance ratio, and resample by Gumbel-top-k (the "
    "without-replacement sampler the importance weights call for), with "
    "the Gumbel noise derived from md5(doc_id) so the draw is "
    "deterministic, partitioning-independent, and exactly "
    "SQL-oracle-able. Plan at 100 TB: the bucket LMs are two 256-row "
    "aggregates (broadcast), scoring is one explode + broadcast-join + "
    "integer sum per doc, selection is one top-k — linear, one shuffle. "
    "The per-bucket log-ratio quantizes to 1e-6-scaled integers before "
    "summing, making per-doc scores exact integers (no float-order "
    "hazard at any document length).",
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    # lang rides through the explode so target and raw bucket counts come
    # out of ONE corpus pass (conditional aggregation) — a separate tgt
    # join/aggregate was a third full token explode in the physical plan.
    tb = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_tgt"),
        F.explode(F.split("text", " ")).alias("term"),
    ).select(
        "doc_id",
        "is_tgt",
        F.expr(
            f"{_md5_nibble('term', 1)} * 16 + {_md5_nibble('term', 2)}"
        ).alias("b"),
    )
    counts = tb.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.col("is_tgt").cast("long")).alias("ct"),
    )
    tots = counts.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    lr = counts.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            (
                F.log((F.col("ct") + 1.0) / (F.col("nt") + float(_DSIR_BUCKETS)))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + float(_DSIR_BUCKETS)))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("w6"),
    )
    perdoc = (
        tb.join(F.broadcast(lr), "b").groupBy("doc_id").agg(F.sum("w6").alias("sw6"))
    )
    did = "CAST(doc_id AS STRING)"  # Spark parser needs STRING, not VARCHAR
    u = F.expr(
        f"({_md5_nibble(did, 1)} * 1048576.0 + {_md5_nibble(did, 2)} * 65536.0"
        f" + {_md5_nibble(did, 3)} * 4096.0 + {_md5_nibble(did, 4)} * 256.0"
        f" + {_md5_nibble(did, 5)} * 16.0 + {_md5_nibble(did, 6)} + 0.5) / 16777216.0"
    )
    logw = F.col("sw6") / 1_000_000.0
    scored = (
        d.select("doc_id", "lang")
        .join(perdoc, "doc_id")
        .select(
            "doc_id",
            "lang",
            (F.round((logw) * 1000000).cast("bigint") / 1000000.0).alias("log_importance"),
            (F.round((logw - F.log(-F.log(u))) * 1000000).cast("bigint") / 1000000.0).alias("sel_key"),
        )
    )
    # Gumbel-top-k WITHOUT a global ROW_NUMBER (r11 audit rule): take
    # the k-row boundary via ORDER BY + LIMIT (TakeOrderedAndProject),
    # reduce it to the k-th (sel_key, doc_id) pair, broadcast it, and
    # flag by lexicographic comparison — identical selection incl. the
    # doc_id tie-break (sel_key is a 1e-6-quantized double, so equality
    # against the boundary is exact). scored feeds both the boundary
    # pass and the flag pass — one checkpoint, not two pipeline runs.
    scored = scored.localCheckpoint()
    thr = (
        scored.select("sel_key", "doc_id")
        .orderBy(F.col("sel_key").desc(), "doc_id")
        .limit(_DSIR_KEEP)
    )
    bnd = (
        thr.orderBy(F.col("sel_key").asc(), F.col("doc_id").desc())
        .limit(1)
        .select(F.col("sel_key").alias("tk"), F.col("doc_id").alias("td"))
    )
    return scored.crossJoin(F.broadcast(bnd)).select(
        "doc_id",
        "lang",
        "log_importance",
        "sel_key",
        (
            (F.col("sel_key") > F.col("tk"))
            | ((F.col("sel_key") == F.col("tk")) & (F.col("doc_id") <= F.col("td")))
        ).alias("selected"),
    )


# ---------------------------------------------------------------------------
# End-to-end archive ingestion DAG (r6 VERDICT item 7)
# ---------------------------------------------------------------------------
_E2E_CHUNK = 256


def _archive_roundtrip_batch(batches):
    """Stage zero + stage 0.5 as one Arrow-batched map: each document is
    rendered into the adversarial HTML page (llm/html.render_page),
    carried as the response payload of a real 3-record WARC archive
    gzipped one-member-per-record (llm/warc), then the pipeline SPLITS
    the members, parses the record grammar, and runs the from-scratch
    HTML extractor on the RECOVERED page — so the md5 the downstream
    dedup keys on is earned through container + markup, not copied
    from the input column."""
    import hashlib

    import pandas as pd

    from emr_with_custom_metrics_spark.llm.html import extract_page, render_page
    from emr_with_custom_metrics_spark.llm.warc import (
        parse_warc,
        split_gzip_members,
        write_warc_gz,
        write_warc_record,
    )

    def run(doc_id: int, text: str) -> tuple[str, int]:
        date = "2026-08-14T00:00:00Z"
        page = render_page(doc_id, text)
        recs = [
            write_warc_record("warcinfo", f"<urn:uuid:info-{doc_id}>", date,
                              b"software: emr-with-custom-metrics-spark"),
            write_warc_record("response", f"<urn:uuid:resp-{doc_id}>", date,
                              page.encode(),
                              {"WARC-Target-URI": f"http://corpus/doc/{doc_id}"}),
            write_warc_record("metadata", f"<urn:uuid:meta-{doc_id}>", date,
                              f"chars: {len(page)}".encode()),
        ]
        members = split_gzip_members(write_warc_gz(recs))
        parsed = [r for m in members for r in parse_warc(m)]
        resp = [r for r in parsed if r["headers"]["warc-type"] == "response"]
        if len(resp) != 1:
            raise ValueError("expected exactly one response record")
        main = extract_page(resp[0]["payload"].decode())["main_text"]
        return hashlib.md5(main.encode()).hexdigest(), len(main.split(" "))

    for pdf in batches:
        out = [run(int(d), t) for d, t in zip(pdf["doc_id"], pdf["text"])]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "rec_md5": [m for m, _ in out],
                "n_toks": pd.Series([n for _, n in out], dtype="int64"),
            }
        )


@register(
    "corpus_e2e_archive_pipeline",
    # The oracle predicts the final packing straight from the documents
    # table: because WARC round-trip + HTML extraction recover the text
    # byte-exactly, md5(recovered) == md5(text) and the kept set / token
    # spans / chunk census follow. ANY framing, member-boundary, entity-
    # decode, or zone bug upstream changes rec_md5 → changes which doc
    # survives dedup → breaks the hash.
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, source,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM (SELECT doc_id, source, text,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1),
    spans AS (
      SELECT source, doc_id, n_toks,
             CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_toks
                  AS BIGINT) AS tok_start,
             CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
      FROM kept),
    chunked AS (
      SELECT source, tok_start, tok_end,
             UNNEST(generate_series(tok_start // {_E2E_CHUNK},
                                    (tok_end - 1) // {_E2E_CHUNK})) AS chunk_id
      FROM spans WHERE tok_end > tok_start)
    SELECT source, chunk_id, COUNT(*) AS n_docs,
           CAST(SUM(LEAST(tok_end, (chunk_id + 1) * {_E2E_CHUNK})
               - GREATEST(tok_start, chunk_id * {_E2E_CHUNK})) AS BIGINT)
               AS chunk_tokens
    FROM chunked GROUP BY source, chunk_id
    """,
    doc="END-TO-END ARCHIVE INGESTION DAG (r6 VERDICT item 7 — stage zero "
    "finally composes): documents → adversarial HTML render → 3-record "
    "WARC archives gzipped one member per record → member split via "
    "zlib unused_data → record-grammar parse → from-scratch HTML main-"
    "content extraction on the RECOVERED page → exact dedup keyed on the "
    "md5 of the EXTRACTED text (keep lowest doc_id) → 256-token chunk "
    "packing per source. One oracled DAG from archive bytes to training "
    "chunks. Plan: the ingest+extract stage is an Arrow-batched map "
    "(no shuffle, linear in corpus bytes); dedup shuffles 16-byte md5 "
    "keys, never text; the packer is one per-source window + a chunk "
    "aggregate — the identical scale shape as e2e_span_dedup_pipeline.",
)
def corpus_e2e_archive_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_fanned(spark, sf_dir, "documents").select("doc_id", "source", "text")
    rec = d.mapInPandas(
        _archive_roundtrip_batch,
        schema="doc_id bigint, source string, rec_md5 string, n_toks bigint",
    )
    kept = (
        rec.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("rec_md5").orderBy("doc_id")),
        )
        .where(F.col("rn") == 1)
        .drop("rn", "rec_md5")
    )
    win = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = kept.select(
        "source",
        (F.sum("n_toks").over(win) - F.col("n_toks")).alias("tok_start"),
        F.sum("n_toks").over(win).alias("tok_end"),
    ).where(F.col("tok_end") > F.col("tok_start"))
    chunked = spans.select(
        "source",
        "tok_start",
        "tok_end",
        F.explode(
            F.sequence(
                F.expr(f"tok_start div {_E2E_CHUNK}"),
                F.expr(f"(tok_end - 1) div {_E2E_CHUNK}"),
            )
        ).alias("chunk_id"),
    )
    return chunked.groupBy("source", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.least(F.col("tok_end"), (F.col("chunk_id") + 1) * _E2E_CHUNK)
            - F.greatest(F.col("tok_start"), F.col("chunk_id") * _E2E_CHUNK)
        )
        .cast("bigint")
        .alias("chunk_tokens"),
    )
