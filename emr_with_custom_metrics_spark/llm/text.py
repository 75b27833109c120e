"""Text analysis for training-data pipelines ([EXT], SURVEY.md §2B).

Language-ID, quality scoring, token counting, and fingerprinting over the
``documents`` table — all pure Catalyst expressions (split/explode/regexp/
md5/higher-order functions), zero Python in the row path, so every operator
is a narrow scan + at most one shuffle and scales linearly to 100 TB of
text.

Tokenization contract shared with every oracle: whitespace split on a
single space (the corpus is single-space separated); BPE-ish counting uses
the dialect-neutral regex ``[A-Za-z0-9]+|[^A-Za-z0-9\\s]`` (identical
semantics in Java regex and DuckDB's RE2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_fanned, load_table
from emr_with_custom_metrics_spark.registry import register

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")

# Tiny deterministic marker lexicons for heuristic language ID. The corpus
# is synthetic; the heuristic's value is the *pattern* (scorable n-gram
# language ID as a single declarative expression), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "de"),
    "zh": ("de", "le", "shi"),
}

TOKENIZE_REGEX = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined), empty for short docs.
    Shingle space is |vocab|^n, so shingle sets are highly selective — the
    right similarity domain for SEQUENCE near-duplicates (word-order-
    insensitive duplicates are the bag fingerprint's job instead)."""
    w = tokens(col)
    # slice+array_join stays in-bounds under ANSI mode (element_at would
    # throw on short docs); the greatest() clamp keeps start ≥ 1.
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(w, (i + 1).cast("int"), n), " "),
    )
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles — the similarity-
    pipeline representation. Skipping the string materialization entirely
    (xxhash64 hashes the sliced token sub-array directly) keeps shingle
    exploding, shuffling and set-intersection in fixed-width longs; Jaccard
    over the hash sets equals Jaccard over the string sets up to 64-bit
    collision odds (~n²/2⁶⁵ — negligible at any corpus size that fits a
    cluster)."""
    w = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.xxhash64(F.slice(w, (i + 1).cast("int"), n)),
    )
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


def _stop_count(tok: Column) -> Column:
    return F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS)))


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id, lang,
           CAST(LEN(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(LEN(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique,
           (CAST(ROUND((LEN(list_distinct(string_split(text, ' ')))::DOUBLE
                 / LEN(string_split(text, ' '))) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS ttr,
           (CAST(ROUND((LENGTH(text)::DOUBLE / LEN(string_split(text, ' '))) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_tok_span,
           n_chars
    FROM documents
    """,
    doc="Per-document token statistics: counts, unique counts, type-token "
    "ratio, average token span.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_unique"),
        (F.round((F.size(F.array_distinct(tok)).cast("double") / n_tok) * 10000).cast("bigint") / 10000.0).alias("ttr"),
        (F.round((F.length("text").cast("double") / n_tok) * 10000).cast("bigint") / 10000.0).alias("avg_tok_span"),
        "n_chars",
    )


@register(
    "text_word_freq_topk",
    oracle="""
    SELECT token, COUNT(*) AS freq FROM (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY freq DESC, token LIMIT 20
    """,
    doc="Corpus word frequency top-k: explode → count → TakeOrdered. The "
    "explode happens map-side; the shuffle carries (token, partial_count).",
)
def text_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "text_lang_source_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           (CAST(ROUND((AVG(n_chars)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_chars,
           CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang, source
    """,
    doc="Corpus composition: docs / chars / tokens per (lang, source).",
)
def text_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.round((F.avg("n_chars")) * 10000).cast("bigint") / 10000.0).alias("avg_chars"),
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("total_tokens"),
    )


@register(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             LEN(string_split(text, ' ')) AS n_tok,
             n_chars
      FROM documents)
    SELECT doc_id,
           CAST(n_tok AS INTEGER) AS n_tokens,
           (CAST(ROUND((LEN(list_filter(toks, x -> list_contains(
             ['the','a','of','and','to','in','is','it'], x)))::DOUBLE / n_tok) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
             AS stopword_ratio,
           (CAST(ROUND((n_chars::DOUBLE / n_tok) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS mean_word_span,
           CAST(CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS INTEGER)
             AS length_ok
    FROM t
    """,
    doc="Quality heuristics: stopword ratio, mean word span, length gate — "
    "the standard pre-training corpus filters, as one projection.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    n_tok = F.size(tok)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (F.round((_stop_count(tok).cast("double") / n_tok) * 10000).cast("bigint") / 10000.0).alias("stopword_ratio"),
        (F.round((F.col("n_chars").cast("double") / n_tok) * 10000).cast("bigint") / 10000.0).alias("mean_word_span"),
        F.when(n_tok.between(20, 1000), 1).otherwise(0).alias("length_ok"),
    )


@register(
    "text_lang_id",
    oracle="""
    WITH scores AS (
      SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS toks
      FROM documents),
    s2 AS (
      SELECT doc_id, labeled_lang,
             LEN(list_filter(toks, x -> list_contains(['the','and','of'], x))) AS s_en,
             LEN(list_filter(toks, x -> list_contains(['der','und','das'], x))) AS s_de,
             LEN(list_filter(toks, x -> list_contains(['le','et','la'], x))) AS s_fr,
             LEN(list_filter(toks, x -> list_contains(['el','y','de'], x))) AS s_es,
             LEN(list_filter(toks, x -> list_contains(['de','le','shi'], x))) AS s_zh
      FROM scores)
    SELECT doc_id, labeled_lang,
           CASE GREATEST(s_en, s_de, s_fr, s_es, s_zh)
                WHEN s_en THEN 'en' WHEN s_de THEN 'de' WHEN s_fr THEN 'fr'
                WHEN s_es THEN 'es' ELSE 'zh' END AS predicted_lang
    FROM s2
    """,
    doc="Heuristic marker-lexicon language ID with deterministic "
    "first-match tie-break (en > de > fr > es > zh).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    def marker_count(markers: tuple[str, ...]) -> Column:
        # closure via argument — a lambda default would be introspected as a
        # second lambda variable by PySpark's HOF machinery
        return F.size(F.filter(tok, lambda t: t.isin(*markers)))

    scores = {lang: marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(scores["en"] == best, "en")
    for lang in ("de", "fr", "es"):
        pred = pred.when(scores[lang] == best, lang)
    pred = pred.otherwise("zh")
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@register(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    doc="Token counting two ways: whitespace and a BPE-ish word/punct regex.",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(TOKENIZE_REGEX)).cast("bigint").alias("n_bpe_tokens"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
    )


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS norm_md5
    FROM documents WHERE doc_id < 200
    """,
    doc="Canonical text normalization: lowercase → strip non-alnum → "
    "collapse whitespace → trim; the pre-dedup cleanup pass, emitted with "
    "its hash (what exact-dedup would actually key on in production).",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return d.select("doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_md5"))


@register(
    "text_logfreq_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
    freq AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    total AS (SELECT SUM(c) AS t FROM freq),
    scored AS (
      SELECT tok.doc_id, LN(freq.c::DOUBLE / total.t) AS logp
      FROM tok JOIN freq USING (token) CROSS JOIN total)
    SELECT doc_id, (CAST(ROUND((AVG(logp)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS avg_log_freq,
           COUNT(*) AS n_tokens
    FROM scored GROUP BY doc_id
    """,
    doc="Unigram-LM quality proxy: mean log corpus-frequency per document "
    "(low = rare-word-heavy/noisy, high = common-word prose). Vocabulary "
    "table broadcast; two aggregates + one key join — linear at 100 TB.",
)
def text_logfreq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("c"))
    # Corpus-total token count stays IN the plan: a 1-row aggregate broadcast
    # into the vocabulary table (no driver-side .collect() — VERDICT r01 #4;
    # one lazy DAG, no extra job per invocation at 100 TB).
    total = freq.agg(F.sum("c").alias("t"))
    freq_p = freq.crossJoin(F.broadcast(total)).select(
        "token", (F.col("c").cast("double") / F.col("t")).alias("p")
    )
    scored = tok.join(F.broadcast(freq_p), "token").select(
        "doc_id", F.log(F.col("p")).alias("logp")
    )
    return scored.groupBy("doc_id").agg(
        (F.round((F.avg("logp")) * 1000000).cast("bigint") / 1000000.0).alias("avg_log_freq"),
        F.count("*").alias("n_tokens"),
    )


@register(
    "text_tfidf_top_term",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY doc_id, token),
    doclen AS (
      SELECT doc_id, SUM(cnt) AS n_tok FROM tf GROUP BY doc_id),
    df AS (
      SELECT token, COUNT(*) AS n_docs_with FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS total_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             (CAST(ROUND(((tf.cnt::DOUBLE / doclen.n_tok)
                   * LN(n.total_docs::DOUBLE / df.n_docs_with)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS tfidf
      FROM tf JOIN doclen USING (doc_id) JOIN df USING (token) CROSS JOIN n)
    SELECT doc_id, token, tfidf FROM (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored) WHERE rn = 1
    """,
    doc="TF-IDF: term frequency × inverse document frequency, top-scoring "
    "term per document. Three hash aggregates + two key joins (the DF side "
    "is a tiny vocabulary table → broadcast at any corpus size).",
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_fanned(spark, sf_dir, "documents")
    total_docs = d.count()  # one cheap metadata-ish count; a literal beats a cross join
    # Opt r15 (guide §2.4): `tf` feeds doclen, df AND the scoring join
    # — un-staged, the corpus explode + (doc, token) aggregation ran
    # three times (plans/r15/text_tfidf_top_term_scan1.txt). One
    # checkpoint of the compact count table.
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    doclen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))
    df = tf.groupBy("token").agg(F.count("*").alias("n_docs_with"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(F.broadcast(df), "token")
        .select(
            "doc_id",
            "token",
            (F.round(((F.col("cnt").cast("double") / F.col("n_tok"))
                * F.log(F.lit(float(total_docs)) / F.col("n_docs_with"))) * 1000000).cast("bigint") / 1000000.0).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.select("doc_id", "token", "tfidf", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_md5,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS bag_md5,
           SUBSTRING(md5(text), 1, 16) AS fp64_hex
    FROM documents
    """,
    doc="Document fingerprints: exact content hash + order-insensitive "
    "bag-of-words hash (the exact-dedup keys in llm/dedup).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text")))))
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.md5(bag).alias("bag_md5"),
        F.substring(F.md5("text"), 1, 16).alias("fp64_hex"),
    )


@register(
    "text_repetition_ratio",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id,
                 CASE WHEN LEN(toks) >= 3
                      THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            for i in range(1, LEN(toks) - 1)]
                      ELSE [] END AS grams
          FROM t)
    SELECT doc_id,
           CAST(LEN(grams) AS BIGINT) AS n_grams,
           (CAST(ROUND((CASE WHEN LEN(grams) > 0
                      THEN 1.0 - LEN(list_distinct(grams))::DOUBLE / LEN(grams)
                      ELSE 0.0 END) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS rep_ratio
    FROM g
    """,
    doc="Repetition ratio (C4/Gopher-style quality rule): fraction of "
    "duplicated word 3-grams per document — high values flag boilerplate "
    "and degenerate/looping text. Map-side only (transform + "
    "array_distinct inside the row), no shuffle.",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    grams = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - 3, F.lit(0))),
            lambda i: F.array_join(F.slice(w, (i + 1).cast("int"), 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", grams.alias("grams"))
    n = F.size("grams")
    return g.select(
        "doc_id",
        n.cast("bigint").alias("n_grams"),
        (F.round((F.when(
                n > 0,
                1.0 - F.size(F.array_distinct("grams")).cast("double") / n,
            ).otherwise(0.0)) * 1000000).cast("bigint") / 1000000.0).alias("rep_ratio"),
    )


@register(
    "text_pii_scrub",
    # The corpus carries no PII, so deterministic fake PII (email + phone
    # derived from doc_id) is planted in-query on BOTH sides — the regex
    # detection and redaction logic is then fully value-checked.
    oracle="""
    WITH p AS (
      SELECT doc_id,
             text || ' contact u' || doc_id || '@example.com or 555-' ||
             LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t
      FROM documents WHERE doc_id < 300)
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(t, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]')) AS INTEGER)
             AS n_emails,
           CAST(LEN(regexp_extract_all(t, '\\d{3}-\\d{4}')) AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', '<EMAIL>', 'g'),
                 '\\d{3}-\\d{4}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM p
    """,
    doc="PII scrub ([EXT] pipeline hygiene): detect + redact email/phone "
    "patterns, emitting match counts and the hash of the redacted text "
    "(hash-checking redaction byte-for-byte). All JVM-side regexps; at "
    "100 TB this is a map-only pass. Fake PII planted deterministically "
    "in-query — the corpus itself is synthetic words.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    email_re = "[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]"
    phone_re = r"\d{3}-\d{4}"
    d = load_fanned(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    planted = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    p = d.select("doc_id", planted.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return p.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(email_re), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(phone_re), F.lit(0))).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), bigrams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bg,
               UNNEST(list_transform(range(1, len(toks)), i -> toks[i])) AS w1
        FROM tok
    ), bg_counts AS (
        SELECT bg, COUNT(*) AS c_bg FROM bigrams GROUP BY bg
    ), w1_counts AS (
        SELECT w1, COUNT(*) AS c_w1 FROM bigrams GROUP BY w1
    )
    SELECT d.doc_id,
           COUNT(*) AS n_bigrams,
           CAST((CAST(ROUND((AVG(LN(c_bg::DOUBLE / c_w1))) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS DOUBLE) AS avg_logprob
    FROM bigrams d
    JOIN bg_counts USING (bg)
    JOIN w1_counts USING (w1)
    GROUP BY d.doc_id
    """,
    doc="Bigram language-model scoring — the KenLM-style perplexity "
    "quality filter: a bigram LM is 'trained' on the corpus itself "
    "(C(w1,w2)/C(w1) maximum-likelihood estimates, exact integer-count "
    "ratios) and every document is scored by its mean bigram "
    "log-probability; unusually low scores mark boilerplate/garbled "
    "text, unusually high mark near-boilerplate repetition. Two "
    "aggregate passes build the model (vocabulary-sized, broadcastable) "
    "and one join scores the stream — at 100 TB the model tables stay "
    "KB–MB while the scoring pass is map-side after the broadcast. "
    "Self-trained ⇒ every doc bigram exists in the model, so the ML "
    "estimate needs no smoothing and stays SQL-exact (log of an "
    "integer-count ratio, rounded at 4 dp).",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    ).where(F.size("toks") >= 2)
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(concat_ws(' ', toks[i-1], toks[i]) AS bg, toks[i-1] AS w1))"
            )
        ).alias("e"),
    ).select("doc_id", "e.bg", "e.w1")
    bg_counts = bigrams.groupBy("bg").agg(F.count("*").alias("c_bg"))
    w1_counts = bigrams.groupBy("w1").agg(F.count("*").alias("c_w1"))
    return (
        bigrams.join(F.broadcast(bg_counts), "bg")
        .join(F.broadcast(w1_counts), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.round((F.avg(F.log(F.col("c_bg") / F.col("c_w1")))) * 10000).cast("bigint") / 10000.0)
            .cast("double")
            .alias("avg_logprob"),
        )
    )


@register(
    "text_gopher_rules",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    stop AS (
      SELECT LIST(w) AS sw FROM (
        SELECT w FROM (SELECT UNNEST(t) AS w FROM toks)
        GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 8)),
    per_doc AS (
      SELECT doc_id,
             CAST(LEN(t) AS BIGINT) AS n_words,
             (CAST(ROUND((list_sum(list_transform(t, x -> CAST(LENGTH(x) AS DOUBLE))) / LEN(t)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
               AS mean_word_len,
             (CAST(ROUND((list_sum(list_transform(t, x ->
               CASE WHEN regexp_matches(x, '^[a-zA-Z]+$') THEN 1.0 ELSE 0.0 END)) / LEN(t)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
               AS alpha_ratio,
             CAST(LEN(list_distinct(list_filter(t, x -> list_contains(stop.sw, x))))
                  AS BIGINT) AS n_stopwords
      FROM toks, stop)
    SELECT doc_id, n_words, mean_word_len, alpha_ratio, n_stopwords,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND alpha_ratio >= 0.8
            AND n_stopwords >= 2) AS passes
    FROM per_doc
    """,
    doc="Gopher-style quality rules (Rae et al. published heuristics, "
    "adapted honestly to this corpus): word-count bounds, mean-word-length "
    "bounds, ≥80% alphabetic words, and the stop-word rule — with the "
    "stoplist DERIVED from the corpus itself (top-8 tokens by frequency, "
    "deterministic tie-break) because the synthetic vocabulary contains "
    "no English function words and a fixed English list would vacuously "
    "fail every document. All array HOFs per doc (zero shuffle) plus one "
    "8-row broadcast for the stoplist; the per-rule columns are emitted "
    "so downstream curation can threshold differently without re-scanning.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    stop = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(8)
        .agg(F.collect_set("w").alias("stopset"))
    )
    per = d.crossJoin(F.broadcast(stop)).select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_words"),
        (F.round((F.aggregate(
                F.transform("t", lambda x: F.length(x).cast("double")),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            / F.size("t")) * 10000).cast("bigint") / 10000.0).alias("mean_word_len"),
        (F.round((F.aggregate(
                F.transform(
                    "t",
                    lambda x: F.when(x.rlike("^[a-zA-Z]+$"), F.lit(1.0)).otherwise(
                        F.lit(0.0)
                    ),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            / F.size("t")) * 10000).cast("bigint") / 10000.0).alias("alpha_ratio"),
        F.size(
            F.array_distinct(
                F.filter("t", lambda x: F.array_contains(F.col("stopset"), x))
            )
        )
        .cast("bigint")
        .alias("n_stopwords"),
    )
    return per.select(
        "*",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_ratio") >= 0.8)
            & (F.col("n_stopwords") >= 2)
        ).alias("passes"),
    )


@register(
    "text_bm25_retrieval",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), doclen AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclen
    ), q AS (
        SELECT DISTINCT UNNEST(list_slice(string_split(text, ' '), 1, 8)) AS term
        FROM documents WHERE doc_id = 1
    ), tf AS (
        SELECT t.doc_id, t.term, COUNT(*) AS f
        FROM tok t JOIN q ON t.term = q.term
        GROUP BY t.doc_id, t.term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS nd FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               SUM(
                 LN((s.n_docs - df.nd + 0.5) / (df.nd + 0.5) + 1.0)
                 * (tf.f * 2.2)
                 / (tf.f + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / s.avgdl))
               ) AS score
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN doclen ON tf.doc_id = doclen.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, (CAST(ROUND((score) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS bm25
    FROM (SELECT doc_id, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= 15
    """,
    doc="BM25 retrieval (Robertson-Sparck Jones; the Okapi formulation "
    "with k1 = 1.2, b = 0.75): rank the corpus against the first 8 terms "
    "of document 1 and return the top 15 by (score, doc_id). This is the "
    "lexical-retrieval half of a contamination / RAG pipeline, next to "
    "the embedding half (similarity_*). Plan shape at 100 TB: the QUERY "
    "side is broadcast (8 terms), so tf reduces to a semi-join of the "
    "token stream before any aggregation — the corpus-wide work is one "
    "token-count pass, and doc-length stats come from the same explode. "
    "All deterministic arithmetic; the one LN call sits on an exact "
    "rational, so both engines round the identical double at 6 dp.",
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # Opt r15 (guide §2.3/§2.4): doclen = size(split(...)) is the same
    # integer as COUNT(*) over the explode (split of "" still yields
    # one element — the ndcg precedent), so the corpus-wide explode no
    # longer runs once per doclen consumer; avgdl stays exact (integer
    # lengths sum exactly in double). `tf` feeds df_ AND scored, so it
    # is staged behind a checkpoint — the one explode pass runs
    # once (12 scans before, plans/r15/text_bm25_retrieval_scan1.txt).
    doclen = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    q = (
        d.where(F.col("doc_id") == 1)
        .select(F.explode(F.slice(F.split("text", " "), 1, 8)).alias("term"))
        .distinct()
    )
    tf = (
        tok.join(F.broadcast(q), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("f"))
        .localCheckpoint()
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("nd"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n_docs") - F.col("nd") + 0.5) / (F.col("nd") + 0.5) + 1.0
                )
                * (F.col("f") * 2.2)
                / (
                    F.col("f")
                    + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    # top-15 as ORDER BY + LIMIT (TakeOrderedAndProject): the per-query
    # doc ranking never single-partition-sorts the whole scored corpus
    # (r11 VERDICT item 1). Same (score desc, doc_id) tie-break.
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id",
            (F.round((F.col("score")) * 1000000).cast("bigint") / 1000000.0).alias("bm25"),
        )
    )


_BPE_ROUNDS = 5


def _bpe_oracle(rounds: int) -> str:
    """Chained-CTE oracle replaying the identical BPE schedule (one CTE
    block per merge round, generated from one template — the LPA pattern).
    Tokens are wrapped as chr(1)||tok||chr(2); a merge replaces the exact
    wrapped pair, and because patterns begin/end with the markers they
    cannot share boundary characters, so SQL's non-overlapping
    left-to-right replace() IS greedy BPE pair application."""
    head = """
    WITH docs0 AS (
        SELECT doc_id,
               list_aggregate(list_transform(string_split(text, ' '),
                   t -> chr(1) || t || chr(2)), 'string_agg', '') AS r
        FROM documents WHERE doc_id < 300
    )"""
    blocks, outs = [head], []
    for i in range(rounds):
        j = i + 1
        blocks.append(f""",
    toks{i} AS (
        SELECT doc_id,
               string_split(substr(r, 2, length(r) - 2),
                            chr(2) || chr(1)) AS t
        FROM docs{i}
    ), cnt{i} AS (
        SELECT a, b, COUNT(*) AS c FROM (
            SELECT t[i] AS a, t[i + 1] AS b
            FROM toks{i}, UNNEST(range(1, len(t))) AS u(i)
        ) GROUP BY a, b
    ), best{i} AS (
        SELECT a, b, c FROM cnt{i}
        ORDER BY c DESC, a, b LIMIT 1
    ), docs{j} AS (
        SELECT d.doc_id,
               replace(d.r, chr(1) || best{i}.a || chr(2)
                          || chr(1) || best{i}.b || chr(2),
                       chr(1) || best{i}.a || ' ' || best{i}.b || chr(2)) AS r
        FROM docs{i} d, best{i}
    ), size{j} AS (
        SELECT CAST(SUM(len(string_split(substr(r, 2, length(r) - 2),
                                         chr(2) || chr(1)))) AS BIGINT) AS n
        FROM docs{j}
    )""")
        outs.append(
            f"SELECT {j} AS round, a AS tok_a, b AS tok_b, c AS pair_count,"
            f" (SELECT n FROM size{j}) AS tokens_after FROM best{i}"
        )
    return "".join(blocks) + "\n    " + "\n    UNION ALL ".join(outs)


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(_BPE_ROUNDS),
    doc="BPE tokenizer training IN-ENGINE (Sennrich et al. 2016's merge "
    "loop, word-level): each round counts adjacent token pairs across "
    "the corpus, merges the globally most frequent pair (ties broken "
    "lexicographically), and re-tokenizes — 5 rounds, emitting each "
    "learned merge with its count and the corpus token count after. "
    "Fully DETERMINISTIC and fully oracled: tokens ride in a "
    "control-char-wrapped string form where the merge is one replace() "
    "whose pattern cannot straddle boundaries, so SQL's non-overlapping "
    "replace IS greedy BPE; the DuckDB side replays the identical "
    "schedule as generated chained CTEs. Plan shape per round: one "
    "pair-explode aggregate (map-side partial), a 1-row broadcast of "
    "the winning pair, one map-side replace — no driver-side state, no "
    "collect; rounds scale as O(corpus) each, the schedule a real "
    "tokenizer trainer runs distributed.",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    docs = d.select(
        "doc_id",
        F.expr(
            "array_join(transform(split(text, ' '), t -> concat(char(1), t, char(2))), '')"
        ).alias("r"),
    )
    rows = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        toks = docs.select(
            "doc_id",
            F.expr(
                "split(substring(r, 2, length(r) - 2), concat(char(2), char(1)))"
            ).alias("t"),
        )
        # sequence(1, 0) DESCENDS in Spark (round-1 gotcha), so single-token
        # docs must short-circuit to an empty pair list
        pairs = toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
                    "ELSE array() END"
                )
            ).alias("p")
        ).select("p.a", "p.b")
        best = (
            pairs.groupBy("a", "b")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
        )
        docs = docs.crossJoin(F.broadcast(best)).select(
            "doc_id",
            F.replace(
                F.col("r"),
                F.concat(
                    F.lit("\x01"), F.col("a"), F.lit("\x02"),
                    F.lit("\x01"), F.col("b"), F.lit("\x02"),
                ),
                F.concat(F.lit("\x01"), F.col("a"), F.lit(" "), F.col("b"), F.lit("\x02")),
            ).alias("r"),
        ).localCheckpoint()
        size = docs.select(
            F.expr(
                "size(split(substring(r, 2, length(r) - 2), concat(char(2), char(1))))"
            ).alias("n")
        ).agg(F.sum("n").cast("bigint").alias("tokens_after"))
        rows.append(
            best.crossJoin(F.broadcast(size)).select(
                F.lit(rnd).alias("round"),
                F.col("a").alias("tok_a"),
                F.col("b").alias("tok_b"),
                F.col("c").alias("pair_count"),
                "tokens_after",
            )
        )
    out = rows[0]
    for rdf in rows[1:]:
        out = out.unionByName(rdf)
    return out


@register(
    "text_cooccurrence_pmi",
    oracle="""
    WITH dt AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ), n_docs AS (
        SELECT COUNT(DISTINCT doc_id) AS nd FROM dt
    ), marg AS (
        SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok
    ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, n_ab,
           (CAST(ROUND((LN((CAST(n_ab AS DOUBLE) * nd)
                    / (CAST(ma.df AS DOUBLE) * mb.df))) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS pmi
    FROM pairs
    JOIN marg ma ON tok_a = ma.tok
    JOIN marg mb ON tok_b = mb.tok
    CROSS JOIN n_docs
    WHERE n_ab >= 20
    ORDER BY pmi DESC, tok_a, tok_b LIMIT 20
    """,
    doc="Pointwise mutual information over document-level token "
    "co-occurrence: PMI(a,b) = ln(P(a,b) / P(a)P(b)) at document "
    "granularity, support-filtered (n_ab >= 20) and top-20 by "
    "association — the collocation/phrase-mining statistic (and the "
    "base quantity behind PPMI embedding matrices). Everything up to "
    "the final LN is exact integer counting: the distinct-per-doc "
    "explode feeds one self-join on doc_id (bounded per doc by the "
    "31-token vocabulary; at web scale the marginal-frequency prune "
    "runs BEFORE the pair join so stopword pairs never materialize), "
    "and the one float op sits on an exact rational, so both engines "
    "round the identical double.",
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    # Opt r15: staging `dt` behind a localCheckpoint was A/B-measured
    # SLOWER (1.47 -> 1.84 s at sf0.1) — the distinct-token explode is
    # cheap to recompute and the materialization is pure overhead (the
    # minhash exploded-relation negative again). Left as-is.
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    nd = dt.agg(F.count_distinct("doc_id").alias("nd"))
    marg = dt.groupBy("tok").agg(F.count("*").alias("df"))
    a = dt.alias("a")
    b = dt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 20)
    )
    scored = (
        pairs.join(F.broadcast(marg.withColumnRenamed("tok", "tok_a")
                               .withColumnRenamed("df", "df_a")), "tok_a")
        .join(F.broadcast(marg.withColumnRenamed("tok", "tok_b")
                          .withColumnRenamed("df", "df_b")), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a", "tok_b", "n_ab",
            (F.round((F.log(
                    (F.col("n_ab").cast("double") * F.col("nd"))
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                )) * 1000000).cast("bigint") / 1000000.0).alias("pmi"),
        )
    )
    # top-20 as ORDER BY + LIMIT, not a global ROW_NUMBER window: Spark
    # plans this as TakeOrderedAndProject (per-partition top-k, k rows
    # cross the wire) — no SinglePartition sort of the full pair
    # relation (r11 VERDICT item 1). Same deterministic tie-break,
    # byte-identical rows.
    return scored.orderBy(F.col("pmi").desc(), "tok_a", "tok_b").limit(20)


def _bpe_encode_oracle(rounds: int) -> str:
    """Train-then-apply oracle: the trainer's chained-CTE schedule learns
    best0..best{R-1} on the doc_id < 300 split, and a parallel enc-chain
    applies each merge to EVERY document (same wrapped-replace trick)."""
    head = """
    WITH docs0 AS (
        SELECT doc_id,
               list_aggregate(list_transform(string_split(text, ' '),
                   t -> chr(1) || t || chr(2)), 'string_agg', '') AS r
        FROM documents WHERE doc_id < 300
    ), enc0 AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
               list_aggregate(list_transform(string_split(text, ' '),
                   t -> chr(1) || t || chr(2)), 'string_agg', '') AS r
        FROM documents
    )"""
    blocks = [head]
    for i in range(rounds):
        j = i + 1
        blocks.append(f""",
    toks{i} AS (
        SELECT doc_id,
               string_split(substr(r, 2, length(r) - 2),
                            chr(2) || chr(1)) AS t
        FROM docs{i}
    ), cnt{i} AS (
        SELECT a, b, COUNT(*) AS c FROM (
            SELECT t[i] AS a, t[i + 1] AS b
            FROM toks{i}, UNNEST(range(1, len(t))) AS u(i)
        ) GROUP BY a, b
    ), best{i} AS (
        SELECT a, b FROM cnt{i}
        ORDER BY c DESC, a, b LIMIT 1
    ), docs{j} AS (
        SELECT d.doc_id,
               replace(d.r, chr(1) || best{i}.a || chr(2)
                          || chr(1) || best{i}.b || chr(2),
                       chr(1) || best{i}.a || ' ' || best{i}.b || chr(2)) AS r
        FROM docs{i} d, best{i}
    ), enc{j} AS (
        SELECT e.doc_id, e.n_before,
               replace(e.r, chr(1) || best{i}.a || chr(2)
                          || chr(1) || best{i}.b || chr(2),
                       chr(1) || best{i}.a || ' ' || best{i}.b || chr(2)) AS r
        FROM enc{i} e, best{i}
    )""")
    return "".join(blocks) + f"""
    SELECT doc_id, n_before,
           CAST(len(t) AS BIGINT) AS n_after,
           CAST(len(list_filter(t, x -> contains(x, ' '))) AS BIGINT)
               AS n_merged
    FROM (SELECT doc_id, n_before,
                 string_split(substr(r, 2, length(r) - 2),
                              chr(2) || chr(1)) AS t
          FROM enc{rounds})
    """


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(_BPE_ROUNDS),
    doc="BPE ENCODE — the apply half of the tokenizer workflow "
    "text_bpe_train_merges trains: the 5-round merge schedule is learned "
    "on the doc_id < 300 training split, then each learned merge is "
    "applied IN ORDER to every document in the corpus (greedy "
    "left-to-right pair application — exactly what the wrapped-token "
    "replace() implements, per the trainer's boundary argument). Emits "
    "per-doc token counts before/after and the number of merged "
    "(multi-word) tokens. Train-on-split / apply-on-corpus is the real "
    "deployment shape: merges are a tiny broadcast artifact (one row per "
    "round), application is a map-side replace chain — at 100 TB the "
    "encode pass is embarrassingly parallel and the training pass is the "
    "only shuffling stage.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    wrap = F.expr(
        "array_join(transform(split(text, ' '), t -> concat(char(1), t, char(2))), '')"
    )
    d_all = load_table(spark, sf_dir, "documents")
    enc = d_all.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_before"),
        wrap.alias("r"),
    )
    docs = d_all.where(F.col("doc_id") < 300).select("doc_id", wrap.alias("r"))
    for _ in range(_BPE_ROUNDS):
        toks = docs.select(
            "doc_id",
            F.expr(
                "split(substring(r, 2, length(r) - 2), concat(char(2), char(1)))"
            ).alias("t"),
        )
        pairs = toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b)) "
                    "ELSE array() END"
                )
            ).alias("p")
        ).select("p.a", "p.b")
        best = (
            pairs.groupBy("a", "b")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        pat = F.concat(
            F.lit("\x01"), F.col("a"), F.lit("\x02"),
            F.lit("\x01"), F.col("b"), F.lit("\x02"),
        )
        rep = F.concat(F.lit("\x01"), F.col("a"), F.lit(" "), F.col("b"), F.lit("\x02"))
        docs = (
            docs.crossJoin(F.broadcast(best))
            .select("doc_id", F.replace(F.col("r"), pat, rep).alias("r"))
            .localCheckpoint()
        )
        # Opt r15: no checkpoint on the full-corpus side — enc is consumed
        # exactly once at the end, so the five replaces chain into ONE
        # corpus pass (5 nested 1-row broadcast joins) instead of five
        # materialize+rescan round-trips (guide §2.4). The training side
        # (docs) keeps its per-round checkpoint: each round's state feeds
        # both the next best-pair aggregate and the next replace.
        enc = enc.crossJoin(F.broadcast(best)).select(
            "doc_id", "n_before", F.replace(F.col("r"), pat, rep).alias("r")
        )
    toks_f = enc.select(
        "doc_id",
        "n_before",
        F.expr(
            "split(substring(r, 2, length(r) - 2), concat(char(2), char(1)))"
        ).alias("t"),
    )
    return toks_f.select(
        "doc_id",
        "n_before",
        F.size("t").cast("bigint").alias("n_after"),
        F.size(F.expr("filter(t, x -> contains(x, ' '))")).cast("bigint").alias(
            "n_merged"
        ),
    )


@register(
    "retrieval_rrf_hybrid",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), doclen AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclen
    ), q AS (
        SELECT DISTINCT UNNEST(list_slice(string_split(text, ' '), 1, 8)) AS term
        FROM documents WHERE doc_id = 1
    ), tf AS (
        SELECT t.doc_id, t.term, COUNT(*) AS f
        FROM tok t JOIN q ON t.term = q.term
        GROUP BY t.doc_id, t.term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS nd FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               SUM(
                 LN((s.n_docs - df.nd + 0.5) / (df.nd + 0.5) + 1.0)
                 * (tf.f * 2.2)
                 / (tf.f + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / s.avgdl))
               ) AS score
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN doclen ON tf.doc_id = doclen.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ), lex AS (
        SELECT doc_id, rn AS lex_rank
        FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
              FROM scored)
        WHERE rn <= 15
    ), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = 1),
    sem AS (
        SELECT vec_id AS doc_id, rn AS sem_rank
        FROM (SELECT e.vec_id,
                     ROW_NUMBER() OVER (
                       ORDER BY (CAST(ROUND((list_cosine_similarity(e.v, qv.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) DESC,
                                e.vec_id) AS rn
              FROM e, qv WHERE e.vec_id <> 1)
        WHERE rn <= 15
    ), fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               lex.lex_rank, sem.sem_rank,
               COALESCE(1.0 / (60 + lex.lex_rank), 0.0)
             + COALESCE(1.0 / (60 + sem.sem_rank), 0.0) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           (CAST(ROUND((rrf) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    doc="Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. "
    "2009, k=60): the lexical ranking (text_bm25_retrieval's exact "
    "Okapi formulation, query = first 8 terms of doc 1) and the semantic "
    "ranking (exact cosine vs embedding 1) are each cut at top-15, then "
    "fused by 1/(60+rank) — the standard way RAG stacks combine keyword "
    "and vector search without score calibration. Fully hash-oracled: "
    "RRF consumes integer RANKS, not raw scores, so the fused values are "
    "exact rationals both engines compute identically (the rank "
    "derivations themselves round at 6 dp with doc-id tie-breaks). Scale "
    "shape: both rankings end in top-k (per-partition heaps), the fusion "
    "is a 15x15 outer join on ids — driver-free and independent of "
    "corpus size.",
)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emr_with_custom_metrics_spark.functions.vector import cosine

    d = load_fanned(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # Opt r15 (guide §2.4): doclen as size(split(...)) — identical value
    # to COUNT(*) over the explode (split of "" still yields one
    # element), but the corpus-wide explode now runs ONCE (tf only)
    # instead of per doclen consumer.
    doclen = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    q = (
        d.where(F.col("doc_id") == 1)
        .select(F.explode(F.slice(F.split("text", " "), 1, 8)).alias("term"))
        .distinct()
    )
    tf = (
        tok.join(F.broadcast(q), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("f"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("nd"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n_docs") - F.col("nd") + 0.5) / (F.col("nd") + 0.5) + 1.0
                )
                * (F.col("f") * 2.2)
                / (
                    F.col("f")
                    + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    lex = (
        scored.withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")),
        )
        .where(F.col("lex_rank") <= 15)
        .select("doc_id", "lex_rank")
    )
    e = load_fanned(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 1).select(F.col("embedding").alias("qvec"))
    sem = (
        e.where(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (F.round((cosine(F.col("embedding"), F.col("qvec"))) * 1000000).cast("bigint") / 1000000.0).alias("c"),
        )
        .withColumn(
            "sem_rank",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "doc_id")),
        )
        .where(F.col("sem_rank") <= 15)
        .select("doc_id", "sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
        (
            F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.select(
        "doc_id", "lex_rank", "sem_rank", (F.round((F.col("rrf")) * 1000000).cast("bigint") / 1000000.0).alias("rrf")
    ).orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@register(
    "retrieval_ndcg_eval",
    # The graded relevance is the exact-cosine top-10 (rel = 11 - rank),
    # so every DCG term is a rational over LOG2 of small integers; terms
    # quantize to 1e-6-scaled BIGINTs before summing (the DSIR float
    # discipline), making dcg/idcg exact integers and ndcg a ratio of
    # identical doubles in both engines.
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), doclen AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclen
    ), q AS (
        SELECT DISTINCT UNNEST(list_slice(string_split(text, ' '), 1, 8)) AS term
        FROM documents WHERE doc_id = 1
    ), tf AS (
        SELECT t.doc_id, t.term, COUNT(*) AS f
        FROM tok t JOIN q ON t.term = q.term
        GROUP BY t.doc_id, t.term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS nd FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               SUM(
                 LN((s.n_docs - df.nd + 0.5) / (df.nd + 0.5) + 1.0)
                 * (tf.f * 2.2)
                 / (tf.f + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / s.avgdl))
               ) AS score
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN doclen ON tf.doc_id = doclen.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ), lex AS (
        SELECT doc_id, rn AS lex_rank
        FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
              FROM scored)
        WHERE rn <= 15
    ), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = 1),
    sem AS (
        SELECT vec_id AS doc_id, rn AS sem_rank
        FROM (SELECT e.vec_id,
                     ROW_NUMBER() OVER (
                       ORDER BY (CAST(ROUND((list_cosine_similarity(e.v, qv.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) DESC,
                                e.vec_id) AS rn
              FROM e, qv WHERE e.vec_id <> 1)
        WHERE rn <= 15
    ), fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               COALESCE(1.0 / (60 + lex.lex_rank), 0.0)
             + COALESCE(1.0 / (60 + sem.sem_rank), 0.0) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ), rrfcut AS (
        SELECT doc_id, rn AS rnk
        FROM (SELECT doc_id,
                     ROW_NUMBER() OVER (ORDER BY (CAST(ROUND((rrf) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) DESC, doc_id) AS rn
              FROM fused)
        WHERE rn <= 10
    ), rel AS (
        SELECT doc_id, 11 - sem_rank AS rel FROM sem WHERE sem_rank <= 10
    ), sysranks AS (
        SELECT 'bm25' AS system, doc_id, lex_rank AS rnk FROM lex
        WHERE lex_rank <= 10
        UNION ALL
        SELECT 'cosine', doc_id, sem_rank FROM sem WHERE sem_rank <= 10
        UNION ALL
        SELECT 'rrf', doc_id, rnk FROM rrfcut
    ), dcg AS (
        SELECT s.system,
               COUNT(rel.doc_id) AS n_hits,
               SUM(CAST(ROUND(COALESCE(rel.rel, 0) / LOG2(s.rnk + 1.0) * 1000000)
                        AS BIGINT)) AS dcg6
        FROM sysranks s LEFT JOIN rel USING (doc_id)
        GROUP BY s.system
    ), ideal AS (
        SELECT SUM(CAST(ROUND((11 - i) / LOG2(i + 1.0) * 1000000) AS BIGINT))
               AS idcg6
        FROM (SELECT UNNEST(range(1, 11)) AS i)
    )
    SELECT system, CAST(n_hits AS BIGINT) AS n_hits,
           (CAST(ROUND((dcg6 / 1000000.0) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS dcg,
           (CAST(ROUND((idcg6 / 1000000.0) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS idcg,
           (CAST(ROUND((CAST(dcg6 AS DOUBLE) / idcg6) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS ndcg
    FROM dcg CROSS JOIN ideal
    """,
    doc="Retrieval EVALUATION as a first-class query: nDCG@10 of the "
    "lexical (BM25) ranking and the RRF hybrid, graded against the "
    "exact-cosine top-10 as relevance (rel = 11 - rank; the 'cosine' row "
    "is the self-check that must score 1.0). Completes the retrieval "
    "tier's measurement story the way similarity_recall_report does for "
    "ANN: recall@k for nearest-neighbor methods, nDCG for rankers. "
    "Scale shape: every input is an existing top-k (per-partition "
    "heaps); the eval itself touches 30 rows — cost is the two "
    "rankings, which are linear scans.",
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emr_with_custom_metrics_spark.functions.vector import cosine

    d = load_fanned(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # Opt r15 (guide §2.4): doclen without the corpus explode (identical
    # value — split of "" still yields one element), and the two 15-row
    # rankings staged: lex feeds fused + sysranks and sem feeds fused +
    # rel + sysranks, so un-staged each consumer replayed the whole
    # BM25 / cosine-window pipeline (6 corpus passes total in
    # plans/r15/retrieval_ndcg_eval_before2.txt).
    doclen = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    q = (
        d.where(F.col("doc_id") == 1)
        .select(F.explode(F.slice(F.split("text", " "), 1, 8)).alias("term"))
        .distinct()
    )
    tf = (
        tok.join(F.broadcast(q), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("f"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("nd"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n_docs") - F.col("nd") + 0.5) / (F.col("nd") + 0.5) + 1.0
                )
                * (F.col("f") * 2.2)
                / (
                    F.col("f")
                    + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    lex = (
        scored.withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")),
        )
        .where(F.col("lex_rank") <= 15)
        .select("doc_id", "lex_rank")
        .localCheckpoint()
    )
    e = load_fanned(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 1).select(F.col("embedding").alias("qvec"))
    sem = (
        e.where(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (F.round((cosine(F.col("embedding"), F.col("qvec"))) * 1000000).cast("bigint") / 1000000.0).alias("c"),
        )
        .withColumn(
            "sem_rank",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "doc_id")),
        )
        .where(F.col("sem_rank") <= 15)
        .select("doc_id", "sem_rank")
        .localCheckpoint()
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    rrfcut = (
        fused.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy((F.round((F.col("rrf")) * 1000000).cast("bigint") / 1000000.0).desc(), "doc_id")
            ),
        )
        .where(F.col("rnk") <= 10)
        .select("doc_id", "rnk")
    )
    rel = sem.where(F.col("sem_rank") <= 10).select(
        "doc_id", (11 - F.col("sem_rank")).alias("rel")
    )
    sysranks = (
        lex.where(F.col("lex_rank") <= 10)
        .select(F.lit("bm25").alias("system"), "doc_id", F.col("lex_rank").alias("rnk"))
        .unionAll(
            sem.where(F.col("sem_rank") <= 10).select(
                F.lit("cosine").alias("system"),
                "doc_id",
                F.col("sem_rank").alias("rnk"),
            )
        )
        .unionAll(
            rrfcut.select(F.lit("rrf").alias("system"), "doc_id", "rnk")
        )
    )
    dcg = (
        # r16: rel is <= 10 rows — broadcast it (the staged sem table
        # carries no stats, so this left join degraded to SortMergeJoin;
        # guide §3.1, lost-statistics audit).
        sysranks.join(F.broadcast(rel), "doc_id", "left")
        .groupBy("system")
        .agg(
            F.count("rel").alias("n_hits"),
            F.sum(
                F.round(
                    F.coalesce(F.col("rel"), F.lit(0))
                    / F.log2(F.col("rnk") + 1.0)
                    * 1_000_000
                ).cast("bigint")
            ).alias("dcg6"),
        )
    )
    ideal = (
        spark.range(1, 11)
        .select(
            F.sum(
                F.round((11 - F.col("id")) / F.log2(F.col("id") + 1.0) * 1_000_000)
                .cast("bigint")
            ).alias("idcg6")
        )
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        "system",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (F.round((F.col("dcg6") / 1_000_000.0) * 1000000).cast("bigint") / 1000000.0).alias("dcg"),
        (F.round((F.col("idcg6") / 1_000_000.0) * 1000000).cast("bigint") / 1000000.0).alias("idcg"),
        (F.round((F.col("dcg6").cast("double") / F.col("idcg6")) * 1000000).cast("bigint") / 1000000.0).alias("ndcg"),
    )


@register(
    "text_distribution_drift",
    oracle="""
    WITH tok AS (
        SELECT doc_id % 2 AS half, UNNEST(string_split(text, ' ')) AS tok
        FROM documents
    ), counts AS (
        SELECT tok,
               COUNT(*) FILTER (WHERE half = 0) AS a,
               COUNT(*) FILTER (WHERE half = 1) AS b
        FROM tok GROUP BY tok
    ), tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
               COUNT(*) AS v
        FROM counts
    ), probs AS (
        -- add-one smoothing over the UNION vocabulary on both sides
        SELECT tok,
               (a + 1.0) / (ta + v) AS pa,
               (b + 1.0) / (tb + v) AS pb
        FROM counts CROSS JOIN tot
    ), terms AS (
        SELECT list(pa * LN(pa / pb) ORDER BY tok) AS kl_ab_terms,
               list(pb * LN(pb / pa) ORDER BY tok) AS kl_ba_terms,
               list(0.5 * pa * LN(pa / ((pa + pb) / 2))
                  + 0.5 * pb * LN(pb / ((pa + pb) / 2)) ORDER BY tok)
                   AS jsd_terms
        FROM probs
    )
    SELECT CAST((SELECT v FROM tot) AS BIGINT) AS vocab,
           (CAST(ROUND((list_reduce(kl_ab_terms, (acc, x) -> acc + x)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS kl_ab,
           (CAST(ROUND((list_reduce(kl_ba_terms, (acc, x) -> acc + x)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS kl_ba,
           (CAST(ROUND((list_reduce(jsd_terms, (acc, x) -> acc + x)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS jsd
    FROM terms
    """,
    doc="Corpus DISTRIBUTION DRIFT: token unigram distributions of two "
    "corpus halves (doc_id parity — stands in for yesterday's snapshot "
    "vs today's) compared by KL divergence both ways plus the symmetric "
    "bounded Jensen-Shannon divergence, with add-one smoothing over the "
    "union vocabulary — the monitoring statistic that catches a source "
    "mix shifting under a training pipeline. Float-sum parity recipe: "
    "per-token terms are collected IN TOKEN ORDER and folded "
    "sequentially on both engines (the Adamic-Adar lesson — hash-agg "
    "sums of log terms are addition-order-unstable at the last ulp). "
    "Plan: one explode + (token, half) aggregate, a 2-scalar broadcast, "
    "one ordered-fold aggregate over the vocab — at 100 TB the vocab "
    "table is the only wide state and it partitions by token.",
)
def text_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    tok = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    counts = tok.groupBy("tok").agg(
        F.count_if(F.col("half") == 0).alias("a"),
        F.count_if(F.col("half") == 1).alias("b"),
    )
    tot = counts.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count("*").alias("v"),
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        ((F.col("a") + 1.0) / (F.col("ta") + F.col("v"))).alias("pa"),
        ((F.col("b") + 1.0) / (F.col("tb") + F.col("v"))).alias("pb"),
        "v",
    )
    terms = probs.select(
        "v",
        F.struct(
            "tok",
            (F.col("pa") * F.log(F.col("pa") / F.col("pb"))).alias("t_ab"),
            (F.col("pb") * F.log(F.col("pb") / F.col("pa"))).alias("t_ba"),
            (
                0.5 * F.col("pa") * F.log(F.col("pa") / ((F.col("pa") + F.col("pb")) / 2))
                + 0.5 * F.col("pb") * F.log(F.col("pb") / ((F.col("pa") + F.col("pb")) / 2))
            ).alias("t_js"),
        ).alias("s"),
    )
    folded = terms.groupBy("v").agg(
        F.array_sort(F.collect_list("s")).alias("ss")
    )
    def fold(field: str):
        return F.expr(
            f"aggregate(slice(transform(ss, x -> x.{field}), 2, size(ss) - 1), "
            f"transform(ss, x -> x.{field})[0], (acc, x) -> acc + x)"
        )
    return folded.select(
        F.col("v").cast("bigint").alias("vocab"),
        (F.round((fold("t_ab")) * 1000000).cast("bigint") / 1000000.0).alias("kl_ab"),
        (F.round((fold("t_ba")) * 1000000).cast("bigint") / 1000000.0).alias("kl_ba"),
        (F.round((fold("t_js")) * 1000000).cast("bigint") / 1000000.0).alias("jsd"),
    )


# ---------------------------------------------------------------------------
# Distributed suffix array via prefix doubling (round 7)
# ---------------------------------------------------------------------------
_SA_ROUNDS = 7  # 2^7 = 128 >= max tokens/doc in the corpus slice
_SA_DOCS = 100


@register(
    "text_suffix_array",
    # Brute-force oracle: DuckDB materializes every suffix as a
    # ' '-joined string and sorts it — O(n²) characters, fine at the
    # 100-doc slice. Joining with ' ' preserves token-sequence order
    # because 0x20 sorts below every token character, so shorter-prefix
    # suffixes land first exactly like the rank comparison does. The
    # Spark side must reach the identical permutation through 7 rounds
    # of integer rank doubling — any slip in the shift join, the
    # missing-position sentinel, or a rank collision breaks the hash.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id < {_SA_DOCS}),
    s AS (
      SELECT doc_id,
             UNNEST(range(LEN(toks))) AS pos,
             UNNEST(list_transform(range(LEN(toks)),
               i -> array_to_string(list_slice(toks, i + 1, LEN(toks)), ' ')))
               AS suf
      FROM t)
    SELECT doc_id,
           CAST(pos AS BIGINT) AS pos,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY suf) AS INT)
               AS sa_rank
    FROM s
    """,
    doc="Suffix ARRAY construction by prefix doubling (Manber-Myers): "
    "round k re-ranks every suffix by the pair (rank of its first 2^k "
    "tokens, rank of the next 2^k) — one shift self-join plus one "
    "dense_rank per round, log(max doc length) rounds total, integers "
    "throughout. The suffix array is the index behind ExactSubstr "
    "dedup, longest-repeated-substring mining, and BWT; Spark has no "
    "such operator. Scale shape: ranks are per-document (partition-"
    "parallel across the corpus — millions of docs rank independently); "
    "each round shuffles (doc, pos, rank) triples only, never text. "
    "The same doubling over a GLOBAL token stream swaps the per-doc "
    "window for a range-partitioned sort per round — identical round "
    "count. The oracle sorts materialized suffix strings (quadratic, "
    "viable only at test scale), so engine and oracle agree through "
    "entirely different algorithms — strong evidence both are right.",
)
def text_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    r, _levels = _suffix_ranks(spark, sf_dir)
    return r.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("r").cast("int").alias("sa_rank"),
    )


def _suffix_ranks(spark: SparkSession, sf_dir: str):
    """Prefix-doubling rank tables: returns (final ranks, per-level rank
    DataFrames) — levels[k] holds the rank of each suffix's first 2^k
    tokens, the sparse index that answers lcp(a, b) in O(log n) lookups."""
    from pyspark.sql import Window

    d = load_fanned(spark, sf_dir, "documents").where(F.col("doc_id") < _SA_DOCS)
    toks = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    # _SA_ROUNDS doubling rounds fully order 2**_SA_ROUNDS-token docs; a
    # longer doc would leave dense_rank TIES after the last round and the
    # result would silently diverge from the oracle (ADVICE r7). Guard it
    # in-plan: assert_true raises at execution time if the corpus ever
    # grows past the round budget — a loud failure instead of an opaque
    # hash mismatch. (A filter can't be pruned away, unlike a dead column.)
    wdoc = Window.partitionBy("doc_id")
    toks = toks.withColumn("n_tok", F.count("*").over(wdoc)).where(
        F.assert_true(
            F.col("n_tok") <= F.lit(1 << _SA_ROUNDS),
            F.lit(
                f"text_suffix_array: doc exceeds {1 << _SA_ROUNDS} tokens; "
                f"raise _SA_ROUNDS (prefix doubling needs ceil(log2(len)))"
            ),
        ).isNull()
    ).drop("n_tok")
    w0 = Window.partitionBy("doc_id").orderBy("tok")
    r = toks.select(
        "doc_id", "pos", F.dense_rank().over(w0).alias("r")
    ).localCheckpoint()
    levels = [r]  # levels[k]: rank of the first 2^k tokens
    for k in range(_SA_ROUNDS):
        off = 1 << k
        shifted = r.select(
            "doc_id", (F.col("pos") - off).alias("pos"), F.col("r").alias("r2")
        )
        j = (
            r.join(shifted, ["doc_id", "pos"], "left")
            # missing continuation = shorter suffix = smallest (rank 0)
            .fillna({"r2": 0})
        )
        wk = Window.partitionBy("doc_id").orderBy("r", "r2")
        r = j.select(
            "doc_id", "pos", F.dense_rank().over(wk).alias("r")
        ).localCheckpoint()
        levels.append(r)
    return r, levels


@register(
    "text_longest_repeat",
    # Oracle: per doc, sort the materialized suffix strings and take the
    # max common TOKEN prefix of ADJACENT suffixes (the classic property:
    # the longest repeat is always realized by SA-adjacent suffixes).
    # The Spark side must reach the same number through the sparse rank
    # tables instead — descending-level rank equality tests, never a
    # token comparison.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id < {_SA_DOCS}),
    s AS (
      SELECT doc_id, LEN(toks) AS n,
             UNNEST(range(LEN(toks))) AS pos,
             UNNEST(list_transform(range(LEN(toks)),
               i -> list_slice(toks, i + 1, LEN(toks)))) AS suf
      FROM t),
    ordered AS (
      SELECT doc_id, suf,
             LAG(suf) OVER (PARTITION BY doc_id
                            ORDER BY array_to_string(suf, ' ')) AS prev
      FROM s),
    lcps AS (
      SELECT doc_id,
             COALESCE(
               list_min(list_transform(
                 range(LEAST(LEN(suf), LEN(prev))),
                 i -> CASE WHEN suf[i + 1] <> prev[i + 1] THEN i END)),
               LEAST(LEN(suf), LEN(prev))) AS lcp
      FROM ordered WHERE prev IS NOT NULL)
    SELECT doc_id, CAST(MAX(lcp) AS BIGINT) AS max_repeat_tokens
    FROM lcps GROUP BY doc_id
    """,
    doc="Longest repeated token run per document, answered from the "
    "prefix-doubling rank tables: adjacent suffix-array neighbors are "
    "probed level-by-level (k = 6..0) — if their rank-2^k values agree "
    "at the current advanced positions, the common prefix extends by "
    "2^k — the classic O(log n) sparse-table LCP, as 7 equi-joins on "
    "(doc, pos) keys. Repeated-run length is THE ExactSubstr dedup "
    "signal and a memorization-risk metric. The oracle brute-force "
    "sorts suffix strings and takes adjacent token-prefix overlaps — "
    "again two different algorithms, one answer. Scale shape: "
    "everything is (doc, pos, rank) joins; per-doc windows are "
    "partition-parallel across the corpus.",
)
def text_longest_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Opt r16 (guide §1.2 — fix the algorithm before the plan): the r15
    # form ran the full prefix-doubling machinery (8 chained rank
    # checkpoints, then a 7-level sparse-table LCP walk = 14 more
    # (doc, pos) joins — 20+ Exchanges). But every doc is in-plan
    # GUARDED to <= 2^_SA_ROUNDS = 128 tokens, so the whole per-doc
    # suffix sort fits in ONE higher-order expression: materialize the
    # suffixes as strings, array_sort them (binary collation — the same
    # order the oracle's ORDER BY array_to_string uses), and take the
    # max common TOKEN prefix of adjacent neighbors (first mismatch via
    # array_position over zip_with equality, 0 -> full shorter length —
    # the oracle's formula verbatim). Zero shuffles, no checkpoints; at
    # any corpus size the work is an embarrassingly parallel per-doc map
    # bounded by the same loud 128-token guard. Docs with one token have
    # no adjacent pair and emit no row, exactly like the oracle. The
    # suffix-array and BWT rows keep the prefix-doubling path (their
    # output IS the rank table).
    d = load_fanned(spark, sf_dir, "documents").where(F.col("doc_id") < _SA_DOCS)
    toks = tokens(F.col("text"))
    guarded = d.where(
        F.assert_true(
            F.size(toks) <= F.lit(1 << _SA_ROUNDS),
            F.lit(
                f"text_longest_repeat: doc exceeds {1 << _SA_ROUNDS} tokens; "
                f"raise _SA_ROUNDS (per-doc suffix sort is O(n^2) bounded)"
            ),
        ).isNull()
    ).select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    sufs = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.col("n") - 1),
            lambda i: F.slice(F.col("toks"), i + 1, F.col("n")),
        )
    )
    lcp = lambda a, b: F.when(  # noqa: E731 — local expression builder
        F.array_position(F.zip_with(a, b, lambda x, y: x == y), F.lit(False))
        > 0,
        F.array_position(F.zip_with(a, b, lambda x, y: x == y), F.lit(False))
        - 1,
    ).otherwise(F.least(F.size(a), F.size(b)))
    return (
        guarded.where(F.col("n") >= 2)
        .select(
            "doc_id",
            F.col("n"),
            sufs.alias("sufs"),
        )
        .select(
            "doc_id",
            F.array_max(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - 1),
                    lambda i: lcp(
                        F.element_at(F.col("sufs"), i),
                        F.element_at(F.col("sufs"), i + 1),
                    ),
                )
            )
            .cast("bigint")
            .alias("max_repeat_tokens"),
        )
    )


@register(
    "text_bwt",
    # Oracle: per doc, string-sort the materialized ROTATIONS (BWT is
    # defined over cyclic rotations; with per-doc token streams and no
    # sentinel, rotation order is the canonical definition) and take the
    # last token of each — md5 of the joined BWT sequence plus the
    # adjacent-equal run census (the clustering BWT exists to create).
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id < {_SA_DOCS}),
    rot AS (
      SELECT doc_id, LEN(toks) AS n,
             UNNEST(range(LEN(toks))) AS pos,
             UNNEST(list_transform(range(LEN(toks)),
               i -> array_to_string(
                      list_slice(toks, i + 1, LEN(toks))
                      || list_slice(toks, 1, i), ' '))) AS rotation
      FROM t),
    ordered AS (
      SELECT doc_id, n,
             string_split(rotation, ' ')[n] AS bwt_tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY rotation, pos) AS rk
      FROM rot),
    runs AS (
      SELECT doc_id, n, bwt_tok, rk,
             LAG(bwt_tok) OVER (PARTITION BY doc_id ORDER BY rk) AS prev
      FROM ordered)
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_tokens,
           md5(string_agg(bwt_tok, ' ' ORDER BY rk)) AS bwt_md5,
           CAST(SUM(CASE WHEN bwt_tok = prev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_run_joins
    FROM runs GROUP BY doc_id
    """,
    doc="Burrows-Wheeler transform per document over token streams: sort "
    "all cyclic rotations, emit each rotation's LAST token — the "
    "permutation that clusters equal context-sharing tokens (n_run_joins "
    "counts adjacent equal pairs, the compressibility BWT buys bzip2-"
    "family coders). Spark sorts rotations as bounded token arrays "
    "(array comparison = rotation order), per-doc partition-parallel; "
    "the md5 of the full BWT sequence pins the exact permutation "
    "including the pos tie-break. Completes the suffix-array family: "
    "SA (prefix doubling), LCP (sparse table), BWT (rotation sort).",
)
def text_bwt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_fanned(spark, sf_dir, "documents").where(F.col("doc_id") < _SA_DOCS)
    w = tokens(F.col("text"))
    toks = d.select("doc_id", w.alias("toks"), F.size(w).alias("n"))
    rot = toks.select(
        "doc_id", "n", "toks",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("pos"),
    ).select(
        "doc_id", "n", "pos",
        F.concat(
            F.slice(F.col("toks"), F.col("pos") + 1, F.col("n") - F.col("pos")),
            F.slice(F.col("toks"), 1, F.col("pos")),
        ).alias("rotation"),
    )
    # array<string> comparison is lexicographic per element — BUT the
    # oracle compares ' '-joined STRINGS, which differ from element-wise
    # order when one token is a prefix of another ("ab" vs "a c"): the
    # string form compares 'b' against ' '. Join here too so both sides
    # sort the identical key.
    ordered = rot.select(
        "doc_id", "n", "pos",
        F.element_at("rotation", F.col("n")).alias("bwt_tok"),
        F.concat_ws(" ", "rotation").alias("rk_str"),
    )
    wnd = Window.partitionBy("doc_id").orderBy("rk_str", "pos")
    seq = ordered.select(
        "doc_id", "n", "bwt_tok",
        F.row_number().over(wnd).alias("rk"),
        F.lag("bwt_tok").over(wnd).alias("prev"),
    )
    return seq.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "bwt_tok"))),
                    lambda s: s["bwt_tok"],
                ),
            )
        ).alias("bwt_md5"),
        F.sum(
            F.when(F.col("bwt_tok") == F.col("prev"), 1).otherwise(0)
        ).cast("bigint").alias("n_run_joins"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM (round 8)
# ---------------------------------------------------------------------------
_KN_DISCOUNT = 0.75  # dyadic: exact in binary, so c - D and D*n are exact


@register(
    "text_kneserney_bigram",
    # Float discipline (the round-8 integer-domain rules): D = 0.75 is
    # dyadic so c12 - D and D * n1p are EXACT doubles; Pcont = n2/T and
    # the final /c1 are single IEEE divisions; the multiplication order
    # ((D * n1p) * (n2 / T)) is written identically on both sides. Each
    # bigram's log-prob quantizes to BIGINT micro-nats BEFORE the per-doc
    # sum, so the reduction is an integer sum — aggregation-order-free —
    # and the only cross-engine exposure is libm-vs-duckdb LN at 1 ulp,
    # which the 1e-6 quantization absorbs except on measure-zero
    # boundaries (the precedent: text_bigram_logprob, seven rounds green).
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), bigrams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
               UNNEST(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
        FROM tok
    ), c12 AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1p
        FROM bigrams GROUP BY w1
    ), cont AS (
        SELECT w2, COUNT(DISTINCT w1) AS n2 FROM bigrams GROUP BY w2
    ), types AS (
        SELECT COUNT(*) AS t FROM c12
    ), scored AS (
        SELECT b.doc_id,
               CAST(ROUND(LN(
                   (GREATEST(c12 - {_KN_DISCOUNT}, 0.0)
                    + ({_KN_DISCOUNT} * n1p) * (n2 / CAST(t AS DOUBLE)))
                   / c1) * 1000000) AS BIGINT) AS lp_e6
        FROM bigrams b
        JOIN c12 USING (w1, w2)
        JOIN c1 USING (w1)
        JOIN cont USING (w2)
        CROSS JOIN types
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(lp_e6) AS BIGINT) AS sum_lp_e6,
           CAST(ROUND(CAST(SUM(lp_e6) AS BIGINT) / CAST(COUNT(*) AS DOUBLE))
                AS BIGINT) AS avg_lp_e6
    FROM scored GROUP BY doc_id
    """,
    doc="Interpolated Kneser-Ney bigram scoring — the production form of "
    "the perplexity quality filter (KenLM's smoothing): "
    "P(w2|w1) = (max(c12-D,0) + D*N1+(w1,.)*Pcont(w2)) / c(w1) with "
    "absolute discount D=0.75 and the continuation distribution "
    "Pcont(w2) = N1+(.,w2)/|bigram types| — the fix for raw-ML bigram "
    "models overweighting words that only ever follow one context "
    "('Francisco' scores high after 'San' but KN's continuation count "
    "knows it never follows anything else). Model = three count tables "
    "(vocabulary-sized, broadcastable; at 100 TB they stay MB while "
    "scoring is a map-side join pass). Per-bigram log-probs quantize to "
    "integer micro-nats before the per-doc reduction, so the sum is "
    "aggregation-order-free and the whole pipeline hash-verifies.",
)
def text_kneserney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_fanned(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
    )
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("e"),
    ).select("doc_id", "e.w1", "e.w2")
    # Opt r15 (guide §2.4): `bigrams` fed c12/c1/cont/scored, so the
    # corpus explode ran four times (10 scans in
    # plans/r15/text_kneserney_bigram_scan1.txt). All three model
    # tables are exact integer functions of the (w1, w2) count table:
    # c1 = SUM(c12) per w1, n1p = rows per w1 (bigrams' COUNT(DISTINCT
    # w2) — one row per distinct pair by construction), n2 = rows per
    # w2, t = rows. Stage the vocabulary-sized c12 once; the explode
    # now runs twice total (count pass + scoring pass).
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12")).localCheckpoint()
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p")
    )
    cont = c12.groupBy("w2").agg(F.count("*").alias("n2"))
    types = c12.agg(F.count("*").alias("t"))
    p = (
        F.greatest(F.col("c12") - F.lit(_KN_DISCOUNT), F.lit(0.0))
        + (F.lit(_KN_DISCOUNT) * F.col("n1p"))
        * (F.col("n2") / F.col("t").cast("double"))
    ) / F.col("c1")
    scored = (
        bigrams.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "doc_id",
            F.round(F.log(p) * 1000000).cast("bigint").alias("lp_e6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("lp_e6").alias("sum_lp_e6"),
        F.round(F.sum("lp_e6") / F.count("*").cast("double"))
        .cast("bigint")
        .alias("avg_lp_e6"),
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer: vocab build + greedy longest-match encode (round 8)
# ---------------------------------------------------------------------------
_WP_MAXLEN = 4  # longest vocab entry; greedy tries 4..1
_WP_TOPK = 64  # multi-char vocab budget (single chars always included)
_WP_STEPS = 8  # >= max tokens/word = max word length (corpus max is 8)


def _wp_oracle() -> str:
    """DuckDB replay of the identical vocab + greedy encode. Everything is
    string/integer domain — no floats anywhere, so hash parity is pure
    logic equality. Step CTEs s{i} are MATERIALIZED: each step's union
    (finished rows + advanced rows) references the previous state twice,
    and unmarked that doubles the inlined expansion per step (the
    graph_hits_scores / classifier lesson)."""
    head = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    words AS MATERIALIZED (
      SELECT doc_id, UNNEST(range(LEN(toks))) AS pos, UNNEST(toks) AS w
      FROM t),
    wcnt AS MATERIALIZED (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    grams AS MATERIALIZED (
      SELECT CASE WHEN st = 1 THEN 0 ELSE 1 END AS form,
             substr(w, st, n) AS gram, n AS l, SUM(c) AS cnt
      FROM wcnt
      CROSS JOIN (SELECT UNNEST(range(1, {_WP_MAXLEN} + 1)) AS n)
      CROSS JOIN LATERAL (SELECT UNNEST(range(1, LENGTH(w) - n + 2)) AS st)
      WHERE LENGTH(w) >= n
      GROUP BY 1, 2, 3),
    vocab AS MATERIALIZED (
      SELECT form, gram, l FROM (
        SELECT form, gram, l,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, form, gram) AS rk
        FROM grams WHERE l >= 2) WHERE rk <= {_WP_TOPK}
      UNION ALL
      SELECT form, gram, l FROM grams WHERE l = 1),
    s0 AS MATERIALIZED (
      SELECT w, CAST(1 AS BIGINT) AS cur, '' AS toks, CAST(0 AS BIGINT) AS n_tok
      FROM wcnt)"""
    steps = []
    for i in range(1, _WP_STEPS + 1):
        steps.append(f""",
    m{i} AS MATERIALIZED (
      SELECT s.w, s.cur, s.toks, s.n_tok, v.gram, v.l,
             ROW_NUMBER() OVER (PARTITION BY s.w ORDER BY v.l DESC) AS rk
      FROM s{i - 1} s
      JOIN vocab v
        ON v.form = CASE WHEN s.cur = 1 THEN 0 ELSE 1 END
       AND v.gram = substr(s.w, CAST(s.cur AS INT), CAST(v.l AS INT))
      WHERE s.cur <= LENGTH(s.w)),
    s{i} AS MATERIALIZED (
      SELECT w, cur, toks, n_tok FROM s{i - 1} WHERE cur > LENGTH(w)
      UNION ALL
      SELECT w, cur + l AS cur,
             toks || ' ' || CASE WHEN cur = 1 THEN gram ELSE '##' || gram END
                 AS toks,
             n_tok + 1 AS n_tok
      FROM m{i} WHERE rk = 1)""")
    tail = f"""
    SELECT d.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(enc.n_tok) AS BIGINT) AS n_wp_tokens,
           md5(string_agg(ltrim(enc.toks), ' ' ORDER BY d.pos)) AS wp_md5
    FROM words d JOIN s{_WP_STEPS} enc ON enc.w = d.w
    GROUP BY d.doc_id"""
    return head + "".join(steps) + tail


@register(
    "text_wordpiece_encode",
    oracle=_wp_oracle(),
    doc="WordPiece tokenization (the BERT family) — vocab DERIVED from the "
    "corpus and applied by greedy longest-match-first, completing the "
    "tokenizer triptych beside BPE (merge-rule replay) and unigram-LM "
    "(Viterbi): vocab = every observed single character in word-initial "
    "and '##'-continuation form (so encoding its own corpus never hits "
    "[UNK]) plus the top-64 occurrence-weighted character n-grams "
    "(2..4), ties broken (count DESC, form, gram); encode walks each "
    "word left to right taking the LONGEST vocab match at the cursor "
    "(4..1), continuation matches emitting '##'-prefixed pieces. Scale "
    "shape: the encode loop runs over DISTINCT words (vocabulary-sized "
    "state — the unigram-LM trick), the vocab broadcasts, and documents "
    "join the encoded word table by word. Entirely string/integer "
    "domain: no floats anywhere in train OR apply, so the whole "
    "pipeline is trivially engine-exact.",
)
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    # Each greedy step consumes >= 1 char (single-char vocab guarantees a
    # match), so _WP_STEPS steps fully encode words up to _WP_STEPS chars.
    # A longer word would exit the loop with unfinished state that still
    # joins the output — silently truncated pieces and understated n_tok
    # on BOTH engines (hashes stay green while the answer is wrong — the
    # worst failure mode). Guard in-plan like text_suffix_array: a loud
    # execution-time error the moment the corpus grows past the budget.
    wcnt = words.groupBy("w").agg(F.count("*").alias("c")).where(
        F.assert_true(
            F.length("w") <= F.lit(_WP_STEPS),
            F.lit(
                f"text_wordpiece_encode: word exceeds {_WP_STEPS} chars; "
                f"raise _WP_STEPS (greedy encode needs one step per piece)"
            ),
        ).isNull()
    )
    grams = (
        wcnt.select(
            "w",
            "c",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, {_WP_MAXLEN}), "
                    "n -> transform(sequence(1, greatest(length(w) - n + 1, 0)), "
                    "st -> struct(n AS n, st AS st))))"
                )
            ).alias("g"),
        )
        # Correctness fix (inherited, found in opt r15): greatest(..., 0)
        # does NOT guard the short-word case — Spark's sequence(1, 0)
        # DESCENDS to [1, 0] (the round-1 gotcha), so a word SHORTER than
        # n emitted two phantom truncated grams (st=1 and st=0), which at
        # sf0.001 carried enough count to displace real grams from the
        # top-64 vocab and break oracle parity (DuckDB's range(1, 0) is
        # empty, the correct behavior). Keep exactly the in-bounds
        # starts; at sf0.01/sf0.1 the phantom counts never reached the
        # top-64, so those answers are unchanged.
        .where(F.expr("g.st >= 1 AND g.st + g.n - 1 <= length(w)"))
        .select(
            F.when(F.col("g.st") == 1, 0).otherwise(1).alias("form"),
            F.expr("substr(w, g.st, g.n)").alias("gram"),
            F.col("g.n").cast("long").alias("l"),
            F.col("c"),
        )
        .groupBy("form", "gram", "l")
        .agg(F.sum("c").alias("cnt"))
    )
    from pyspark.sql import Window

    multi = (
        grams.where(F.col("l") >= 2)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "form", "gram")
            ),
        )
        .where(F.col("rk") <= _WP_TOPK)
        .select("form", "gram", "l")
    )
    # (opt r15: no checkpoint — the vocab now has exactly one consumer,
    # the collect_list below, so staging would only add a round-trip.)
    vocab = multi.unionByName(
        grams.where(F.col("l") == 1).select("form", "gram", "l")
    )

    # Opt r15 (guide §1.2 step 1 — fix the distributed algorithm): the
    # original encode loop ran _WP_STEPS sequential rounds of
    # (broadcast-join vocab → per-word longest-match window → union →
    # localCheckpoint), i.e. 8 job barriers re-materializing the whole
    # word-state table. The greedy walk is a pure per-word function of
    # (w, vocab), so run it as ONE JVM-side higher-order fold per
    # DISTINCT word against the collected vocab array (model-sized: 64
    # multi-char entries + observed single chars): zero per-step
    # shuffles, zero checkpoints, identical string/integer arithmetic —
    # each step takes the max-(l) vocab match at the cursor, exactly the
    # rk=1 longest-match the loop took (gram = substr(w, cur, l) is
    # unique per l, so no tie exists either way).
    vrow = vocab.agg(F.collect_list(F.struct("form", "gram", "l")).alias("vm"))
    step = (
        "CASE WHEN s.cur > length(w) THEN s ELSE "
        "element_at(transform(array(array_max(transform("
        "filter(vm, v -> v.form = (CASE WHEN s.cur = 1 THEN 0 ELSE 1 END) "
        "AND v.gram = substr(w, CAST(s.cur AS INT), CAST(v.l AS INT))), "
        "v -> struct(v.l AS l, v.gram AS gram)))), "
        "b -> named_struct("
        "'cur', s.cur + b.l, "
        "'toks', concat(s.toks, ' ', CASE WHEN s.cur = 1 THEN b.gram "
        "ELSE concat('##', b.gram) END), "
        "'n_tok', s.n_tok + CAST(1 AS BIGINT))), 1) END"
    )
    state = wcnt.crossJoin(F.broadcast(vrow)).select(
        "w",
        F.expr(
            f"aggregate(sequence(1, {_WP_STEPS}), "
            "named_struct('cur', CAST(1 AS BIGINT), 'toks', '', "
            "'n_tok', CAST(0 AS BIGINT)), "
            f"(s, i) -> {step}, s -> s)"
        ).alias("st"),
    ).select(
        "w", F.col("st.toks").alias("toks"), F.col("st.n_tok").alias("n_tok")
    )

    return (
        words.join(state.select("w", "toks", "n_tok"), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_wp_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", F.ltrim("toks").alias("t")))
                        ),
                        lambda s: s["t"],
                    ),
                )
            ).alias("wp_md5"),
        )
    )
