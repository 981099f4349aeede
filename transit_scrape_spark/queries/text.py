"""Text-analysis + deduplication surface (SURVEY.md §2.12 extension ops,
BASELINE.json north star: LLM-data-pipeline operators at 100 TB scale).

All ops below are pure built-in expressions over the ``documents``
fixture — tokenization via split, higher-order array functions for
ratios and rolling hashes. No Python UDFs: at 100 TB these run inside
whole-stage codegen on the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.session import cache_width
from transit_scrape_spark.sources.tables import load_table

_STOPWORDS = ("a", "the")


@query(
    "dedup-exact",
    oracle="""
        SELECT DISTINCT doc_id, text, lang, source, n_chars
        FROM (
            SELECT doc_id, text, lang, source, n_chars FROM documents
            UNION ALL
            SELECT doc_id, text, lang, source, n_chars FROM documents
        )
    """,
    doc="Exact dedup: full-row distinct over a corpus that is doubled "
    "(simulating the reference's re-run append hazard, "
    "push_to_db.py:29-30,91-92). Hash-partition on all columns, partial "
    "dedup map-side; at 100 TB dedup on sha2(text) instead of raw text "
    "to shrink shuffle payload (see dedup-exact-hash).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.unionByName(d).distinct()


@query(
    "dedup-exact-hash",
    oracle="""
        SELECT sha256(text) AS text_hash,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
               count(*) AS n_copies
        FROM (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        GROUP BY sha256(text)
    """,
    doc="Content-hash dedup with deterministic survivor (min doc_id): "
    "group on sha2(text,256) — the 100 TB pattern: shuffle 32-byte "
    "digests, not document bodies.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return doubled.groupBy(F.sha2("text", 256).alias("text_hash")).agg(
        F.min("doc_id").cast("long").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "text-token-count",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_text
        FROM documents
    """,
    doc="Token counting (whitespace tokenizer) — split + size + "
    "array_distinct; the BPE-ish regex variant is text-token-regex.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
    )


@query(
    "text-token-regex",
    oracle="""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                   AS n_bpe_tokens
        FROM documents
    """,
    doc="BPE-ish regex token counting: letter-runs / digit-runs / "
    "single punctuation as separate tokens, via regexp_extract_all.",
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@query(
    "text-quality-score",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6)
                   AS avg_token_len,
               round(CAST(len(list_filter(string_split(text, ' '),
                                          t -> t IN {_STOPWORDS!r})) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS stopword_ratio,
               round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS ttr
        FROM documents
    """,
    doc="Document quality scoring: length, avg token length, stopword "
    "ratio, type-token ratio — the C4/Gopher-style filter features as "
    "one codegen'd projection.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_text"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(F.length("text").cast("double") / n_tokens, 6).alias("avg_token_len"),
        F.round(stop_hits.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_tokens, 6).alias("ttr"),
    )


@query(
    "text-lang-id",
    oracle="""
        SELECT doc_id, lang,
               CASE
                   WHEN len(list_filter(string_split(text, ' '),
                            t -> t IN ('the', 'a', 'of', 'and'))) >= 3 THEN 'en'
                   WHEN length(text) > 400 THEN 'long'
                   ELSE 'other'
               END AS lang_guess
        FROM documents
    """,
    doc="n-gram/stopword language-ID heuristic (deterministic scoring; "
    "parity-oracled — accuracy is a model property, not an engine one). "
    "Real corpora swap the word lists per language; same plan shape.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    return d.select(
        "doc_id",
        "lang",
        F.when(en_hits >= 3, "en")
        .when(F.length("text") > 400, "long")
        .otherwise("other")
        .alias("lang_guess"),
    )


@query(
    "text-fingerprint",
    oracle="""
        SELECT doc_id,
               CAST(list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                           t -> CAST(ascii(substring(t, 1, 1)) * 31 + length(t) AS BIGINT))),
                   (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS fingerprint
        FROM documents WHERE text IS NOT NULL
    """,
    doc="Rolling polynomial document fingerprint over the token stream "
    "(per-token code = ascii(first char)*31 + len, folded mod 2^31-1) — "
    "F.aggregate, sequential per row, identical fold order on both "
    "engines; integer math so bit-exact.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    codes = F.transform(
        F.split("text", " "),
        lambda t: (F.ascii(F.substring(t, 1, 1)) * 31 + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 1000003 + x) % 2147483647,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "text-analyze",
    oracle=f"""
        SELECT doc_id, lang,
               CAST(length(text) AS BIGINT) AS n_chars_text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(CAST(len(list_filter(string_split(text, ' '),
                                          t -> t IN {_STOPWORDS!r})) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS stopword_ratio,
               CASE
                   WHEN len(list_filter(string_split(text, ' '),
                            t -> t IN ('the', 'a', 'of', 'and'))) >= 3 THEN 'en'
                   ELSE 'other'
               END AS lang_guess
        FROM documents
    """,
    doc="SURVEY §2.12 `text-analyze` umbrella op: tokenization + length "
    "stats + stopword ratio + language heuristic in one codegen'd "
    "projection (components broken out in text-token-count / "
    "text-quality-score / text-lang-id).",
)
def text_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    en_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_text"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(stop_hits.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.when(en_hits >= 3, "en").otherwise("other").alias("lang_guess"),
    )


@query(
    "text-split-sentences",
    oracle="""
        SELECT doc_id,
               CAST(generate_subscripts(string_split(text, '.'), 1) AS BIGINT) AS sentence_idx,
               trim(unnest(string_split(text, '.'))) AS sentence
        FROM documents
    """,
    doc="Sentence splitting -> one row per sentence (the table-valued "
    "expansion of SURVEY §2.11; Spark's explode subsumes the UDTF — "
    "row expansion happens inside codegen, no Python).",
)
def text_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.posexplode(F.split("text", r"\.")).alias("idx0", "raw")
    )
    return ex.select(
        "doc_id",
        (F.col("idx0") + 1).cast("long").alias("sentence_idx"),
        F.trim(F.col("raw")).alias("sentence"),
    )


@query(
    "corpus-stats",
    oracle="""
        SELECT count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               round(quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.5), 4)
                   AS p50_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents
    """,
    doc="Whole-corpus summary (docs, tokens, char bounds, median tokens, "
    "language count) — the dataset-card numbers a training-data "
    "pipeline reports; one pass, partial aggs map-side.",
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).cast("long").alias("total_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.percentile(n_tokens.cast("double"), F.lit(0.5)), 4).alias("p50_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


@query(
    "corpus-filter-pipeline",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, text, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN {_STOPWORDS!r})) AS DOUBLE)
                       / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        ), kept AS (
            SELECT * FROM scored
            WHERE n_tokens BETWEEN 20 AND 500
              AND stop_ratio < 0.3
              AND lang IN ('en', 'de', 'fr')
        ), deduped AS (
            SELECT sha256(text) AS h, min(doc_id) AS doc_id, min(lang) AS lang,
                   min(n_tokens) AS n_tokens
            FROM kept GROUP BY sha256(text)
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM deduped
        GROUP BY lang
    """,
    doc="End-to-end corpus cleaning pipeline: quality gates (token count "
    "band, stopword ratio) + language allowlist + exact dedup on "
    "content hash + per-language yield report — the C4-style filter "
    "chain as ONE lazy plan (filters fuse into the scan; the only "
    "shuffles are the dedup group and the final rollup).",
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tokens
    )
    kept = d.select("doc_id", "text", "lang", n_tokens.alias("n_tokens")).filter(
        n_tokens.between(20, 500)
        & (stop_ratio < 0.3)
        & F.col("lang").isin("en", "de", "fr")
    )
    deduped = kept.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@query(
    "text-udtf-bigrams",
    oracle="""
        SELECT doc_id,
               CAST(i AS BIGINT) AS idx,
               concat(t[i], ' ', t[i + 1]) AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i)
    """,
    doc="Python UDTF (SURVEY §2.11, Spark 3.5+/4 table function): emits "
    "token bigrams as rows via LATERAL — the row-at-a-time Python path, "
    "kept OFF hot paths (the codegen twin is posexplode over "
    "shingle arrays); registered to prove the API surface.",
)
def text_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx bigint, bigram string")
    class Bigrams:
        def eval(self, text: str):
            if text is None:  # NULL text emits no rows (oracle's
                return        # generate_series over NULL is empty)
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield i + 1, toks[i] + " " + toks[i + 1]

    spark.udtf.register("tss_bigrams", Bigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("tss_docs_udtf")
    try:
        return spark.sql(
            """
            SELECT d.doc_id, b.idx, b.bigram
            FROM tss_docs_udtf d, LATERAL tss_bigrams(d.text) b
            """
        )
    finally:
        spark.catalog.dropTempView("tss_docs_udtf")


@query(
    "text-lang-agg",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens
        FROM documents
        GROUP BY lang
    """,
    doc="Corpus rollup per language — grouped agg over computed token "
    "counts (the per-source summary of push_to_db.py:109-111 generalized).",
)
def text_lang_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg(F.size(F.split("text", " ")).cast("double")), 6).alias(
                "avg_tokens"
            ),
        )
    )


@query(
    "text-pii-scrub",
    oracle="""
        WITH raw AS (
            SELECT doc_id,
                   concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                          '@example.com or +44', CAST(doc_id * 7 AS VARCHAR),
                          ' now') AS t
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               substring(
                   regexp_replace(
                       regexp_replace(t, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                       '\\+?[0-9][0-9]+', '<NUM>', 'g'),
                   1, 80) AS scrubbed_head,
               CAST(len(regexp_extract_all(t, '[A-Za-z0-9._]+@[A-Za-z0-9.]+'))
                    + len(regexp_extract_all(
                          regexp_replace(t, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                          '\\+?[0-9][0-9]+')) AS BIGINT) AS n_pii
        FROM raw
    """,
    doc="PII scrubbing for training corpora: email and phone-number "
    "patterns masked with typed placeholders, per-doc PII hit count for "
    "audit. Pure JVM regex (regexp_replace / regexp_count) — codegen, "
    "no UDF, embarrassingly parallel at 100 TB. The fixture text has no "
    "PII, so deterministic synthetic contact strings are appended "
    "first and the oracle applies the identical pipeline.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    email_re = r"[A-Za-z0-9._]+@[A-Za-z0-9.]+"
    num_re = r"\+?[0-9][0-9]+"
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +44"),
        (F.col("doc_id") * 7).cast("string"),
        F.lit(" now"),
    )
    no_email = F.regexp_replace(raw, email_re, "<EMAIL>")
    return d.select(
        "doc_id",
        F.substring(
            F.regexp_replace(no_email, num_re, "<NUM>"), 1, 80
        ).alias("scrubbed_head"),
        (
            F.regexp_count(raw, F.lit(email_re))
            + F.regexp_count(no_email, F.lit(num_re))
        ).cast("long").alias("n_pii"),
    )


@query(
    "corpus-ngram-topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), grams AS (
            SELECT unnest(list_transform(
                       generate_series(1, greatest(len(t) - 2, 0)),
                       i -> concat_ws(' ', t[i], t[i + 1], t[i + 2])
                   )) AS ngram
            FROM toks
        )
        SELECT ngram, count(*) AS n
        FROM grams
        GROUP BY ngram
        ORDER BY n DESC, ngram
        LIMIT 20
    """,
    doc="Corpus-wide top-k token trigrams — the boilerplate/template "
    "detector of corpus curation (over-represented n-grams flag "
    "machine-generated or duplicated content). Explode is a row x ngram "
    "blowup, but the count aggregate partial-combines map-side so only "
    "distinct ngrams shuffle, and top-k is TakeOrderedAndProject — no "
    "global sort.",
)
def corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("text")
    # A single parquet file arrives as one input partition, serializing
    # the tokenize+explode CPU on one core; spread the narrow text
    # column to the session's parallelism first. (At real scale the
    # scan already yields many partitions and this is a no-op.)
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    toks = F.split("text", " ")
    # Trigrams as zip_with over 3 shifted slices, NOT
    # transform(sequence, element_at): interpreted HOF evaluation
    # re-computes the element_at ARGUMENT array per access, making the
    # transform form O(len^2) per doc (see
    # operators/dedup.py:shingle_hashes_from_tokens for the original
    # analysis). slice(_, 1, 0) is [] so short docs need no guard.
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    two = F.zip_with(
        F.slice(toks, 1, n), F.slice(toks, 2, n), lambda a, b: F.concat_ws(" ", a, b)
    )
    trigrams = F.zip_with(
        two, F.slice(toks, 3, n), lambda ab, c: F.concat_ws(" ", ab, c)
    )
    grams = d.select(F.explode(trigrams).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "ngram")
        .limit(20)
    )


@query(
    "text-unigram-logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        vocab AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
        ),
        total AS (SELECT sum(n) AS total_n FROM vocab)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(CAST(v.n AS DOUBLE) / total_n)), 6) AS avg_logprob
        FROM tok t JOIN vocab v ON t.token = v.token, total
        GROUP BY t.doc_id
    """,
    doc="Unigram language-model scoring: corpus token frequencies become "
    "a probability table, each document scores as its mean token "
    "log-probability — the cheap perplexity proxy corpus-quality "
    "filters rank on (CCNet-style: unusual-token-heavy docs score "
    "low). Two shuffles: vocab build (bounded by vocabulary) and the "
    "token->prob equi-join back; the single-row total broadcasts. At "
    "100 TB the vocab table is the only state and it is "
    "corpus-size-independent.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # persist the per-token counts: the corpus total and the scoring
    # join both re-consumed them, re-running the tokenize/explode
    # (3 documents scans -> 2); summary cache width per
    # session.cache_width
    vocab = (
        tok.groupBy("token").agg(F.count("*").alias("n"))
        .coalesce(cache_width(spark))
        .persist()
    )
    total = vocab.agg(F.sum("n").alias("total_n"))
    return (
        tok.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("n").cast("double") / F.col("total_n"))), 6
            ).alias("avg_logprob"),
        )
    )


@query(
    "text-tfidf-topterms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
        ),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.token,
                   round(t.tf * ln(n_docs / df.df), 6) AS tfidf
            FROM tf t JOIN df ON t.token = df.token, n
        )
        SELECT doc_id, token, tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, token) AS rn
              FROM scored)
        WHERE rn <= 3
    """,
    doc="TF-IDF keyword extraction: term frequency per (doc, token), "
    "document frequency per token, tf * ln(N/df) score, top-3 terms "
    "per document via a per-doc window (WindowGroupLimit pushes the "
    "rank filter into the sort — no full materialization of ranked "
    "rows). Shuffles are keyed on token (df build + score join) then "
    "doc_id (top-k): both bounded by vocabulary x docs, not corpus "
    "bytes. The classic relevance/keyword primitive for corpus "
    "exploration and search-index construction.",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@query(
    "text-udtf-table-arg",
    oracle="""
        WITH toks AS (
            SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS total_tokens,
               CAST(max(n) AS BIGINT) AS max_tokens
        FROM toks
        GROUP BY lang
    """,
    doc="Polymorphic table function: a Python UDTF consuming a whole "
    "TABLE(...) PARTITION BY lang argument (Spark 4) — each eval-group "
    "receives one language's rows and terminate() emits its summary. "
    "The API for whole-relation custom logic that doesn't fit "
    "aggregate signatures (multi-pass per group, cross-row emission); "
    "PARTITION BY is the shuffle, so per-group state lives on one "
    "executor exactly like applyInPandas. Kept off hot paths (the "
    "codegen twin is text-lang-agg); registered to close the UDTF "
    "surface: scalar-arg (text-udtf-bigrams) AND table-arg forms.",
)
def text_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, n_docs bigint, total_tokens bigint, max_tokens bigint")
    class LangSummary:
        def __init__(self):
            self._seen = False
            self._lang = None
            self._n = 0
            self._total = None
            self._max = None

        def eval(self, row):
            self._seen = True
            self._lang = row["lang"]
            self._n += 1
            if row["text"] is not None:
                n = len(row["text"].split(" "))
                self._total = (self._total or 0) + n
                self._max = n if self._max is None else max(self._max, n)

        def terminate(self):
            if self._seen:
                yield self._lang, self._n, self._total, self._max

    spark.udtf.register("tss_lang_summary", LangSummary)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("tss_docs_ta")
    try:
        return spark.sql(
            """
            SELECT * FROM tss_lang_summary(
                TABLE(SELECT lang, text FROM tss_docs_ta) PARTITION BY lang
            )
            """
        )
    finally:
        spark.catalog.dropTempView("tss_docs_ta")


@query(
    "text-inverted-index",
    oracle="""
        WITH postings AS (
            SELECT token, doc_id
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token, doc_id
        ),
        a AS (SELECT doc_id FROM postings WHERE token = 'the'),
        b AS (SELECT doc_id FROM postings WHERE token = 'of')
        SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS df_the,
               CAST((SELECT count(*) FROM b) AS BIGINT) AS df_of,
               CAST((SELECT count(*) FROM a JOIN b USING (doc_id)) AS BIGINT)
                   AS df_and,
               (SELECT CAST(min(doc_id) AS BIGINT) FROM a JOIN b USING (doc_id))
                   AS first_match
    """,
    doc="Inverted-index construction + conjunctive (AND) query: distinct "
    "(token, doc) postings — the index build is ONE groupBy shuffle "
    "keyed on token, which at 100 TB writes partitionBy(token-prefix) "
    "so a query term reads one partition — then a two-term AND as a "
    "postings equi-join on doc_id. Document frequencies and the "
    "intersection size are the scoring inputs (tf-idf's df comes from "
    "exactly this relation). The search-engine counterpart of "
    "text-tfidf-topterms: that op ranks within documents, this one "
    "retrieves across them.",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    postings = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.lit(1).alias("_"))
        .select("token", "doc_id")
    )
    # persist the two query terms' postings in ONE pass: Catalyst
    # already pushes the per-term filter below the dedup, but the two
    # term branches (and the AND join built from them) each re-ran the
    # tokenize/explode — 3 documents scans -> 1. The persisted slice is
    # bounded by the terms' document frequency; summary cache width per
    # session.cache_width.
    qpost = (
        postings.filter(F.col("token").isin("the", "of"))
        .coalesce(cache_width(spark))
        .persist()
    )
    a = qpost.filter(F.col("token") == "the").select("doc_id")
    b = qpost.filter(F.col("token") == "of").select("doc_id")
    both = a.join(b, "doc_id")
    return (
        a.agg(F.count("*").alias("df_the"))
        .join(b.agg(F.count("*").alias("df_of")))
        .join(
            both.agg(
                F.count("*").alias("df_and"),
                F.min("doc_id").alias("first_match"),
            )
        )
    )


@query(
    "text-char-entropy",
    oracle="""
        WITH chars AS (
            SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
            FROM documents
        ),
        freq AS (
            SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS n
            FROM chars GROUP BY doc_id, ch
        ),
        tot AS (
            SELECT doc_id, sum(n) AS total FROM freq GROUP BY doc_id
        )
        SELECT f.doc_id,
               CAST(max(t.total) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS n_distinct_chars,
               round(-sum((f.n / t.total) * ln(f.n / t.total)), 6) AS entropy_nats
        FROM freq f JOIN tot t ON f.doc_id = t.doc_id
        GROUP BY f.doc_id
    """,
    doc="Per-document character entropy (Shannon, nats): char frequency "
    "histogram per doc -> -sum(p ln p). The gibberish/encoding-noise "
    "detector corpus-quality filters use: natural language sits in a "
    "tight entropy band (~2.5-3.5 nats for English-like text), "
    "base64/binary junk runs high, template spam runs low — a "
    "filter rule the quality-score op can't see from token shape "
    "alone. Two grouped aggregations keyed on doc_id (exchange "
    "reused); char fanout is bounded by document length, and at "
    "100 TB the same histogram computes from a SAMPLE of each doc's "
    "bytes with no shape change.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("ch")
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").cast("double").alias("n"))
    tot = freq.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("total").cast("long").alias("n_chars"),
            F.count("*").alias("n_distinct_chars"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
    )


# --- BPE merge training -----------------------------------------------------

_BPE_ORACLE = """
WITH words AS (
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY word
),
seq0 AS (
    SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seq,
           cnt
    FROM words
),
p1 AS (
    SELECT pair, sum(cnt) AS total FROM (
        SELECT l[i] || '  ' || l[i+1] AS pair, cnt
        FROM (SELECT string_split(trim(seq), '  ') AS l, cnt FROM seq0),
             unnest(range(1, len(l))) AS t(i)
    ) GROUP BY pair
),
m1 AS (SELECT pair FROM p1 ORDER BY total DESC, pair LIMIT 1),
seq1 AS (
    SELECT replace(seq, ' ' || (SELECT pair FROM m1) || ' ',
                   ' ' || replace((SELECT pair FROM m1), '  ', '') || ' ')
               AS seq,
           cnt
    FROM seq0
),
p2 AS (
    SELECT pair, sum(cnt) AS total FROM (
        SELECT l[i] || '  ' || l[i+1] AS pair, cnt
        FROM (SELECT string_split(trim(seq), '  ') AS l, cnt FROM seq1),
             unnest(range(1, len(l))) AS t(i)
    ) GROUP BY pair
),
top1 AS (SELECT 1 AS round, replace(pair, '  ', '+') AS pair,
                CAST(total AS BIGINT) AS total
         FROM p1 ORDER BY total DESC, pair LIMIT 5),
top2 AS (SELECT 2 AS round, replace(pair, '  ', '+') AS pair,
                CAST(total AS BIGINT) AS total
         FROM p2 ORDER BY total DESC, pair LIMIT 5)
SELECT CAST(round AS INT) AS round, pair, total
FROM (SELECT * FROM top1 UNION ALL SELECT * FROM top2)
"""


@query(
    "text-bpe-train",
    oracle=_BPE_ORACLE,
    doc="Distributed BPE merge training (2 unrolled rounds), the "
    "tokenizer-construction step of an LLM data pipeline: corpus -> "
    "word-frequency table (the HF-tokenizers pre-aggregation — pair "
    "counting then scales with VOCABULARY, not corpus bytes), symbols "
    "as double-space-joined sequences (' t  h  e '), adjacent-pair "
    "counts weighted by word frequency, top pair merged via boundary-"
    "safe string replace (single-space borders + double-space "
    "separators make ' x  y ' unable to match inside a multi-char "
    "symbol; leftmost non-overlapping replace = greedy BPE merge "
    "order, and Spark/DuckDB replace() agree on it). Each round is "
    "one explode + groupBy (shuffle bounded by pair-vocabulary) and "
    "a 1-row broadcast of the winning pair. Output: top-5 pairs per "
    "round; round 2 counts prove the round-1 merge was applied "
    "(merged symbols appear as new pair halves).",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    seq0 = words.select(
        F.concat(
            F.lit(" "), F.array_join(F.split("word", ""), "  "), F.lit(" ")
        ).alias("seq"),
        "cnt",
    )

    def pair_counts(df: DataFrame) -> DataFrame:
        symbols = F.split(F.trim(F.col("seq")), "  ")
        prs = F.zip_with(
            F.slice(symbols, 1, F.size(symbols) - 1),
            F.slice(symbols, 2, F.size(symbols) - 1),
            lambda x, y: F.concat(x, F.lit("  "), y),
        )
        return (
            df.select(F.explode(prs).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("total"))
        )

    p1 = pair_counts(seq0)
    m1 = p1.orderBy(F.col("total").desc(), "pair").limit(1).select(
        F.col("pair").alias("mpair")
    )
    seq1 = seq0.crossJoin(F.broadcast(m1)).select(
        F.replace(
            F.col("seq"),
            F.concat(F.lit(" "), F.col("mpair"), F.lit(" ")),
            F.concat(
                F.lit(" "),
                F.replace(F.col("mpair"), F.lit("  "), F.lit("")),
                F.lit(" "),
            ),
        ).alias("seq"),
        "cnt",
    )
    p2 = pair_counts(seq1)

    def top5(p: DataFrame, rnd: int) -> DataFrame:
        return (
            p.orderBy(F.col("total").desc(), "pair")
            .limit(5)
            .select(
                F.lit(rnd).cast("int").alias("round"),
                F.replace(F.col("pair"), F.lit("  "), F.lit("+")).alias("pair"),
                "total",
            )
        )

    return top5(p1, 1).unionByName(top5(p2, 2))


@query(
    "text-readability",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
                   AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                   AS n_syllables,
               round(206.835
                     - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                                / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
                     - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                                    AS DOUBLE)
                               / len(string_split(text, ' '))), 4) AS flesch
        FROM documents
    """,
    doc="Flesch reading-ease per document: whitespace word count, "
    "sentence count from terminal-punctuation runs (floored at 1 so "
    "fragments don't divide by zero), and the standard syllable proxy "
    "(vowel-group runs). One codegen'd projection over the corpus — "
    "the readability band is a C4/Gopher-style quality gate cut, and "
    "like text-quality-score it costs a single scan with full column "
    "pruning (only doc_id+text read).",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_syl = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0)))
    flesch = (
        F.lit(206.835)
        - 1.015 * (n_words.cast("double") / n_sent)
        - 84.6 * (n_syl.cast("double") / n_words)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        F.round(flesch, 4).alias("flesch"),
    )


@query(
    "text-zipf-slope",
    oracle="""
        WITH tok AS (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
            FROM documents
        ),
        counted AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
        ),
        ranked AS (
            SELECT token, n,
                   row_number() OVER (ORDER BY n DESC, token) AS rank
            FROM counted
        )
        SELECT CAST(count(*) AS BIGINT) AS n_top,
               round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
                   AS zipf_slope,
               round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
                   AS zipf_intercept
        FROM ranked WHERE rank <= 200
    """,
    doc="Zipf law fit over the corpus vocabulary: token counts, "
    "frequency rank (ties broken by token for determinism), then "
    "least-squares slope of log-frequency vs log-rank over the top "
    "200 — natural language sits near -1; a corpus that deviates "
    "hard signals boilerplate or spam. Plan: one explode+groupBy "
    "(map-side combined, shuffle bounded by vocabulary), a top-200 "
    "TakeOrderedAndProject (no global sort), and a scalar regr_* "
    "aggregate over 200 rows.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counted = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranked = counted.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("token")))
        .alias("rank"),
    ).filter(F.col("rank") <= 200)
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_top"),
        F.round(F.regr_slope(ln_n, ln_r), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_r), 4).alias("zipf_intercept"),
    )


@query(
    "text-hashing-features",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
            FROM documents WHERE doc_id % 10 = 0
        )
        SELECT doc_id,
               CAST(CAST(('0x' || substring(md5(token), 1, 6)) AS BIGINT) % 16
                    AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM tok
        GROUP BY 1, 2
    """,
    doc="Hashing-trick featurization (HashingVectorizer semantics): "
    "tokens hash into 16 fixed buckets via the first 24 bits of md5 — "
    "an engine-portable hash, unlike Spark's murmur3 `hash()` — and "
    "the doc x bucket count matrix comes out in long form. No "
    "vocabulary state at all, which is the point at 100 TB: feature "
    "extraction becomes a stateless projection + one groupBy on "
    "(doc_id, bucket), map-side combined, no vocab broadcast and no "
    "OOV handling. Sampled to every 10th doc to keep the demo output "
    "bounded; the plan is identical unsampled.",
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("token"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 6), 16, 10).cast("long") % 16
    )
    return (
        tok.select("doc_id", bucket.cast("long").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(
    "text-df-prune",
    oracle="""
        WITH n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        df AS (
            SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
            FROM (
                SELECT DISTINCT doc_id,
                       unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
                FROM documents
            )
            GROUP BY token
        )
        SELECT token, doc_freq,
               round(ln(nd / doc_freq), 6) AS idf
        FROM df, n_docs
        WHERE doc_freq >= 3 AND doc_freq <= 0.5 * nd
    """,
    doc="Vocabulary pruning by document frequency (the sklearn "
    "min_df/max_df contract): per-token distinct-doc counts, drop "
    "tokens in fewer than 3 docs (noise/typos) or more than half the "
    "corpus (stopword-like), emit the surviving vocab with idf. "
    "Shape: explode -> per-doc distinct (map-side combinable because "
    "the distinct key is (doc_id, token)) -> groupBy token -> "
    "broadcast single-row corpus count. The standard precursor that "
    "bounds every downstream tf-idf / embedding vocabulary.",
)
def text_df_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nd = d.agg(F.count("*").cast("double").alias("nd"))
    df = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
            ).alias("token"),
        )
        .distinct()
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("doc_freq"))
    )
    return (
        df.join(F.broadcast(nd))
        .filter(
            (F.col("doc_freq") >= 3) & (F.col("doc_freq") <= 0.5 * F.col("nd"))
        )
        .select(
            "token",
            "doc_freq",
            F.round(F.log(F.col("nd") / F.col("doc_freq")), 6).alias("idf"),
        )
    )


@query(
    "text-code-detect",
    oracle="""
        SELECT doc_id,
               CAST(length(text)
                    - length(regexp_replace(text, '[{};()=<>\\[\\]]', '', 'g'))
                    AS BIGINT) AS n_code_chars,
               round(CAST(length(text)
                          - length(regexp_replace(text, '[{};()=<>\\[\\]]', '', 'g'))
                          AS DOUBLE)
                     / length(text), 6) AS code_char_ratio,
               CAST(len(regexp_extract_all(lower(text),
                    '\\b(def|class|return|import|function|var|const|if|else)\\b'))
                    AS BIGINT) AS n_keywords,
               (CAST(length(text)
                     - length(regexp_replace(text, '[{};()=<>\\[\\]]', '', 'g'))
                     AS DOUBLE) / length(text) > 0.05
                OR len(regexp_extract_all(lower(text),
                    '\\b(def|class|return|import|function|var|const|if|else)\\b')) >= 3)
                   AS looks_like_code
        FROM documents
        WHERE length(text) > 0
    """,
    doc="Code-vs-prose heuristic (the corpus-routing screen every "
    "pretraining pipeline runs before language-specific filters: "
    "code wants different dedup and quality rules than prose): "
    "code-punctuation density (braces/semicolons/brackets, counted "
    "by the length-delta of a strip-regex) and programming-keyword "
    "hits, combined into a coarse flag. Pure codegen'd projection, "
    "single scan, no shuffle — the same plan shape as "
    "text-readability, and at 100 TB the flag becomes the partition "
    "column that routes the two sub-corpora into their own "
    "pipelines.",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    stripped = F.regexp_replace(F.col("text"), "[{};()=<>\\[\\]]", "")
    n_code = F.length("text") - F.length(stripped)
    kw = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")),
            F.lit("\\b(def|class|return|import|function|var|const|if|else)\\b"),
            F.lit(0),
        )
    )
    ratio = n_code.cast("double") / F.length("text")
    return d.select(
        "doc_id",
        n_code.cast("long").alias("n_code_chars"),
        F.round(ratio, 6).alias("code_char_ratio"),
        kw.cast("long").alias("n_keywords"),
        ((ratio > 0.05) | (kw >= 3)).alias("looks_like_code"),
    )


@query(
    "text-bigram-perplexity",
    oracle="""
        WITH docs AS (
            SELECT doc_id, lang,
                   regexp_extract_all(lower(text), '[a-z]+') AS toks
            FROM documents
        ),
        uni AS (
            SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
                SELECT unnest(toks) AS w FROM docs
            ) GROUP BY w
        ),
        vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
        bi AS (
            SELECT d.doc_id, d.lang,
                   toks[r.range] AS w1, toks[r.range + 1] AS w2
            FROM docs d, range(1, 1000) r
            WHERE r.range < len(d.toks)
        ),
        bc AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
            FROM bi GROUP BY w1, w2
        ),
        scored AS (
            SELECT b.doc_id, b.lang,
                   ln((bc.cb + 1.0) / (uni.cu + vocab.v)) AS lp
            FROM bi b
            JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
            JOIN uni ON b.w1 = uni.w
            CROSS JOIN vocab
        ),
        per_doc AS (
            SELECT doc_id, lang,
                   exp(-sum(lp) / count(*)) AS ppl
            FROM scored GROUP BY doc_id, lang
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(ppl), 4) AS avg_ppl,
               round(min(ppl), 4) AS min_ppl,
               round(max(ppl), 4) AS max_ppl
        FROM per_doc
        GROUP BY lang
    """,
    doc="In-sample bigram language-model perplexity with add-1 "
    "smoothing, reported per language: train bigram/unigram counts "
    "on the corpus, score every document's bigram stream with "
    "p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V), perplexity = "
    "exp(-mean log p) — the membership/quality signal LLM data "
    "work uses constantly (high perplexity under the corpus's own "
    "LM = outlier/noise; cf. text-unigram-logprob for the "
    "order-free version). Bigrams come from indexing the token "
    "array against a literal position range (no window sort); "
    "count relations are map-side-combined groupBys bounded by "
    "vocab^2-observed; scoring is two equi-joins on token strings "
    "— at 100 TB those join keys become 8-byte hashes and the "
    "count tables broadcast if the vocab allows, else shuffle on "
    "w1.",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE(r11): persisting d and the bigram stream was tried (4
    # documents scans -> 1) and REVERTED — both the interleaved ABBA
    # A/B (+38%) and two consecutive sweeps (+54%, +176%) measured the
    # cache build of the exploded relations costing more than the
    # pruned replans it saves (each consumer prunes to different
    # columns, so the "redundant" passes were each cheaper than the
    # full tokenization).
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0)).alias(
            "toks"
        ),
    )
    uni = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cu"))
    )
    vocab = uni.agg(F.count("*").cast("double").alias("v"))
    # guard: sequence(1, n-1) with n < 2 is DESCENDING ([1, 0, ...]) in
    # Spark, driving element_at out of bounds — a doc with < 2 tokens
    # (empty/non-latin hostile text) has no bigrams; explode(NULL)
    # drops it, matching the oracle's `r.range < len(toks)` bound
    bi = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1))
        ).alias("i"),
        F.col("toks"),
    ).select(
        "doc_id",
        "lang",
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )
    bc = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cb"))
    scored = (
        bi.join(bc, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v"))).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.exp(-F.sum("lp") / F.count("*")).alias("ppl")
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        F.round(F.min("ppl"), 4).alias("min_ppl"),
        F.round(F.max("ppl"), 4).alias("max_ppl"),
    )


@query(
    "text-repetition-score",
    oracle="""
        WITH t AS (
            SELECT lang, string_split(text, ' ') AS toks FROM documents
        ),
        b AS (
            SELECT lang,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1]) AS bg
            FROM t WHERE len(toks) >= 2
        ),
        f AS (
            SELECT lang,
                   1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                       AS dup_frac
            FROM b
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(dup_frac), 6) AS avg_dup_bigram_frac,
               round(max(dup_frac), 6) AS max_dup_bigram_frac,
               CAST(sum(CASE WHEN dup_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repetitive
        FROM f GROUP BY lang ORDER BY lang
    """,
    doc="Within-document repetition score (the Gopher/MassiveText "
    "duplicate-n-gram quality signal): fraction of word bigrams that "
    "are repeats of an earlier bigram in the same document, rolled up "
    "per language with a >0.2 'repetitive' flag count. Pure "
    "codegen-side array expressions (split -> indexed transform -> "
    "array_distinct), zero Python; per-document work is "
    "embarrassingly parallel and the only shuffle is the final "
    "summary-sized groupBy(lang). The flag threshold is the "
    "published Gopher repetition-filter shape (duplicate 2-gram "
    "fraction), applied before LLM pretraining to drop loop-y "
    "boilerplate pages.",
    tags=("text", "curation"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    withb = (
        d.select("lang", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "lang",
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            ).alias("bg"),
        )
        .select(
            "lang",
            (
                1.0
                - F.size(F.array_distinct("bg")).cast("double") / F.size("bg")
            ).alias("dup_frac"),
        )
    )
    return (
        withb.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("dup_frac"), 6).alias("avg_dup_bigram_frac"),
            F.round(F.max("dup_frac"), 6).alias("max_dup_bigram_frac"),
            F.sum(F.when(F.col("dup_frac") > 0.2, 1).otherwise(0))
            .cast("long")
            .alias("n_repetitive"),
        )
        .orderBy("lang")
    )


_RAKE_STOPS = (
    "the|and|of|to|in|a|is|for|on|with|as|by|at|an|be|or|it|this|"
    "that|are|was|were|from|has|have|had|not|but|its"
)
_RAKE_SPLIT = rf"\b(?:{_RAKE_STOPS})\b"


@query(
    "text-rake-keywords",
    oracle=f"""
        WITH norm AS (
            SELECT doc_id,
                   regexp_replace(lower(text), '[^a-z ]', ' ', 'g') AS t
            FROM documents
        ),
        frag AS (
            SELECT doc_id,
                   trim(regexp_replace(unnest(
                       regexp_split_to_array(t, '{_RAKE_SPLIT}')),
                       ' +', ' ', 'g')) AS phrase
            FROM norm
        ),
        phrases AS (
            SELECT phrase,
                   string_split(phrase, ' ') AS ws,
                   len(string_split(phrase, ' ')) AS plen
            FROM frag
            WHERE phrase <> ''
              AND len(string_split(phrase, ' ')) BETWEEN 2 AND 4
        ),
        words AS (
            SELECT unnest(ws) AS word, plen FROM phrases
        ),
        wscore AS (
            SELECT word,
                   CAST(sum(plen) AS DOUBLE) / count(*) AS score
            FROM words GROUP BY word
        ),
        uniq AS (
            SELECT DISTINCT phrase, unnest(ws) AS word, plen
            FROM phrases
        ),
        pscore AS (
            SELECT u.phrase,
                   CAST(max(u.plen) AS BIGINT) AS n_words,
                   round(sum(w.score), 6) AS rake_score
            FROM uniq u JOIN wscore w ON w.word = u.word
            GROUP BY u.phrase
        )
        SELECT phrase, n_words, rake_score
        FROM pscore
        ORDER BY rake_score DESC, phrase
        LIMIT 15
    """,
    doc="RAKE keyword extraction over the documents corpus: candidate "
    "phrases are the maximal runs between stopwords/punctuation, "
    "each word scores degree/frequency (degree = sum of lengths of "
    "phrases it appears in — co-occurrence credit; frequency = raw "
    "count), and a phrase scores the sum of its distinct words' "
    "scores. Top-15 multi-word (2-4 token) keyphrases. Pure "
    "explode + two hash aggregations + one equi-join on word — the "
    "word-score relation is vocabulary-sized (broadcastable), the "
    "phrase aggregation is map-side combinable, nothing leaves the "
    "JVM. Both engines run the identical regex pipeline (ASCII "
    "word-boundary split is RE2/Java-regex-portable by "
    "construction).",
    tags=("text",),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), "[^a-z ]", " ").alias("t"),
    )
    frag = norm.select(
        "doc_id", F.explode(F.split("t", _RAKE_SPLIT)).alias("raw")
    ).select(
        "doc_id",
        F.trim(F.regexp_replace("raw", " +", " ")).alias("phrase"),
    )
    phrases = (
        frag.filter(F.col("phrase") != "")
        .withColumn("ws", F.split("phrase", " "))
        .withColumn("plen", F.size("ws"))
        .filter((F.col("plen") >= 2) & (F.col("plen") <= 4))
    )
    words = phrases.select(F.explode("ws").alias("word"), "plen")
    wscore = words.groupBy("word").agg(
        (F.sum("plen").cast("double") / F.count("*")).alias("score")
    )
    uniq = phrases.select(
        "phrase", F.explode("ws").alias("word"), "plen"
    ).distinct()
    pscore = (
        uniq.join(F.broadcast(wscore), "word")
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("n_words"),
            F.round(F.sum("score"), 6).alias("rake_score"),
        )
    )
    return pscore.select("phrase", "n_words", "rake_score").orderBy(
        F.col("rake_score").desc(), "phrase"
    ).limit(15)


@query(
    "text-js-divergence",
    oracle="""
        WITH tok AS (
            SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        cnt AS (
            SELECT grp, w, count(*) AS c FROM tok WHERE w <> '' GROUP BY grp, w
        ),
        p AS (
            SELECT w,
                   coalesce(sum(CASE WHEN grp = 'en' THEN c END), 0)
                       / sum(sum(CASE WHEN grp = 'en' THEN c END)) OVER ()
                       AS pw,
                   coalesce(sum(CASE WHEN grp = 'other' THEN c END), 0)
                       / sum(sum(CASE WHEN grp = 'other' THEN c END)) OVER ()
                       AS qw
            FROM cnt GROUP BY w
        )
        SELECT CAST(count(*) AS BIGINT) AS vocab,
               round(0.5 * sum(CASE WHEN pw > 0
                                    THEN pw * ln(pw / ((pw + qw) / 2))
                                    ELSE 0 END)
                     + 0.5 * sum(CASE WHEN qw > 0
                                      THEN qw * ln(qw / ((pw + qw) / 2))
                                      ELSE 0 END), 6) AS js_nats,
               round(sqrt(0.5 * sum(CASE WHEN pw > 0
                                         THEN pw * ln(pw / ((pw + qw) / 2))
                                         ELSE 0 END)
                          + 0.5 * sum(CASE WHEN qw > 0
                                           THEN qw * ln(qw / ((pw + qw) / 2))
                                           ELSE 0 END)), 6) AS js_distance
        FROM p
    """,
    doc="Jensen-Shannon divergence between the English and non-English "
    "token distributions of the corpus (the symmetric, bounded, "
    "zero-safe alternative to KL for corpus-mix monitoring): one "
    "explode + groupBy(grp, token) hash agg collapses facts to "
    "vocabulary-sized counts, a pivot-style re-aggregation by token "
    "aligns P and Q (absent tokens contribute 0 to their side's "
    "sum — JS needs no smoothing because the mixture M dominates "
    "both), and the divergence reduces in one summary pass. "
    "sqrt(JS) is reported too — a true metric, the form drift "
    "alarms should threshold. At 100 TB vocabulary, not corpus, "
    "bounds the shuffle — the same reason agg-heavy-hitters "
    "scales.",
    tags=("text",),
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("grp"),
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    cnt = tok.groupBy("grp", "w").agg(F.count("*").alias("c"))
    en_c = F.sum(F.when(F.col("grp") == "en", F.col("c")))
    ot_c = F.sum(F.when(F.col("grp") == "other", F.col("c")))
    aligned = cnt.groupBy("w").agg(
        F.coalesce(en_c, F.lit(0)).alias("ce"),
        F.coalesce(ot_c, F.lit(0)).alias("co"),
    )
    # side totals as a broadcast 1-row aggregate (not an
    # empty-partition window — that would drag the vocabulary-sized
    # relation through one task)
    tot = aligned.agg(
        F.sum("ce").alias("te"), F.sum("co").alias("to_")
    )
    p = aligned.crossJoin(F.broadcast(tot)).select(
        "w",
        (F.col("ce") / F.col("te")).alias("pw"),
        (F.col("co") / F.col("to_")).alias("qw"),
    )
    m = (F.col("pw") + F.col("qw")) / 2
    js = 0.5 * F.sum(
        F.when(F.col("pw") > 0, F.col("pw") * F.log(F.col("pw") / m)).otherwise(
            0.0
        )
    ) + 0.5 * F.sum(
        F.when(F.col("qw") > 0, F.col("qw") * F.log(F.col("qw") / m)).otherwise(
            0.0
        )
    )
    return p.agg(
        F.count("*").cast("long").alias("vocab"),
        F.round(js, 6).alias("js_nats"),
        F.round(F.sqrt(js), 6).alias("js_distance"),
    )


@query(
    "text-ngram-novelty",
    oracle="""
        WITH tri AS (
            SELECT doc_id, w1 || ' ' || w2 || ' ' || w3 AS tg
            FROM (
                SELECT doc_id,
                       ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
                FROM (
                    SELECT doc_id,
                           string_split(lower(text), ' ') AS ws
                    FROM documents
                ), LATERAL (
                    SELECT unnest(range(1, len(ws) - 1)) AS i
                )
            )
        ),
        first_seen AS (
            SELECT tg, min(doc_id) AS first_doc FROM tri GROUP BY tg
        ),
        per_doc AS (
            SELECT t.doc_id,
                   count(*) AS n_tri,
                   sum(CASE WHEN f.first_doc = t.doc_id
                            THEN 1 ELSE 0 END) AS n_novel
            FROM tri t JOIN first_seen f ON f.tg = t.tg
            GROUP BY t.doc_id
        ),
        deciles AS (
            SELECT ntile(10) OVER (ORDER BY doc_id) AS decile,
                   n_tri, n_novel
            FROM per_doc
        )
        SELECT CAST(decile AS BIGINT) AS corpus_decile,
               CAST(sum(n_tri) AS BIGINT) AS trigrams,
               round(CAST(sum(n_novel) AS DOUBLE) / sum(n_tri), 6)
                   AS novelty_rate
        FROM deciles GROUP BY decile ORDER BY decile
    """,
    doc="N-gram novelty curve: for each document (in doc_id ingestion "
    "order), the fraction of its trigrams never seen in any earlier "
    "document, rolled up to corpus deciles — the redundancy-"
    "saturation diagnostic for training-data collection (novelty "
    "collapsing toward 0 says more of the same source adds "
    "nothing). 'Seen earlier' needs no ordered scan: min(doc_id) "
    "per trigram in one hash agg IS first-occurrence, then a "
    "trigram-keyed equi-join marks novelty — fully parallel, "
    "shuffles keyed on the trigram (at 100 TB: on its 8-byte "
    "xxhash). The decile ntile runs over the per-doc summary, "
    "never the trigram relation.",
    tags=("text", "corpus"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # the token array is materialized in its OWN projection: referenced
    # inline, the split(lower(text)) subtree re-evaluates on every
    # element_at access inside the interpreted HOF lambda (3 re-splits
    # per trigram per doc — measured 4.4 s -> 0.35 s for this explode at
    # sf0.1, the dedup-span-coverage lesson). As an attribute reference
    # it is bound once per row.
    ws = F.col("ws")
    # generate trigram keys as 8-byte hashes DIRECTLY (multi-arg
    # xxhash64 over the three tokens — no concat string ever built;
    # tokens are space-split so (w1,w2,w3) <-> "w1 w2 w3" is injective
    # and the oracle's string form keys identically, modulo ~n^2/2^65
    # collision odds). The explode runs ONCE: per-(tg,doc) counts are
    # the working relation, first-occurrence is a window min over tg —
    # no second trigram pass, no self-join.
    # guard short/NULL docs: sequence(0, -1) is a DESCENDING [0, -1] in
    # Spark, which would hash NULL tokens into phantom trigrams (caught
    # by the null-hostility sweep)
    tri_hashes = F.when(
        F.size(ws) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 3),
            lambda i: F.xxhash64(
                F.element_at(ws, i + 1),
                F.element_at(ws, i + 2),
                F.element_at(ws, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    tri = d.withColumn("ws", F.split(F.lower("text"), " ")).select(
        "doc_id", F.explode(tri_hashes).alias("tg")
    )
    grouped = tri.groupBy("tg", "doc_id").agg(F.count("*").alias("c"))
    wt = Window.partitionBy("tg")
    marked = grouped.withColumn("first_doc", F.min("doc_id").over(wt))
    per_doc = marked.groupBy("doc_id").agg(
        F.sum("c").alias("n_tri"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), F.col("c")).otherwise(0)
        ).alias("n_novel"),
    )
    # corpus deciles via the range-sort rank (operators/ranking.py):
    # the per-doc frame grows with the corpus, so no ntile global
    # window; exact_ntile reproduces ANSI ntile.
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    g = with_global_order(per_doc, "doc_id", rn="__rn", total_count="__n")
    deciles = g.select(
        exact_ntile(F.col("__rn"), F.col("__n"), 10).alias("decile"),
        "n_tri",
        "n_novel",
    )
    return (
        deciles.groupBy("decile")
        .agg(
            F.sum("n_tri").cast("long").alias("trigrams"),
            F.round(
                F.sum("n_novel").cast("double") / F.sum("n_tri"), 6
            ).alias("novelty_rate"),
        )
        .select(
            F.col("decile").cast("long").alias("corpus_decile"),
            "trigrams",
            "novelty_rate",
        )
        .orderBy("corpus_decile")
    )


@query(
    "text-burstiness",
    oracle="""
        WITH td AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        per_doc AS (
            SELECT w, doc_id, CAST(count(*) AS DOUBLE) AS c
            FROM td WHERE w <> '' GROUP BY w, doc_id
        ),
        n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        stats AS (
            SELECT w,
                   sum(c) AS total,
                   count(*) AS df,
                   sum(c) / nd AS mu,
                   (sum(c * c) / nd) - power(sum(c) / nd, 2) AS var_
            FROM per_doc, n_docs
            GROUP BY w, nd
        )
        SELECT w AS token, CAST(total AS BIGINT) AS total,
               CAST(df AS BIGINT) AS doc_freq,
               round(var_ / mu, 6) AS fano_factor
        FROM stats
        WHERE total >= 50
        ORDER BY fano_factor DESC, token
        LIMIT 20
    """,
    doc="Token burstiness via the Fano factor (variance-to-mean ratio "
    "of per-document counts, zeros included): ~1 means Poisson-"
    "scattered function words, >>1 means topical terms that cluster "
    "in few documents — the signal separating content from "
    "boilerplate that pure frequency misses. The zero-inflated "
    "variance needs NO dense doc x token matrix: with k nonzero "
    "counts out of N docs, E[c]=sum(c)/N and E[c^2]=sum(c^2)/N "
    "come from the sparse (token, doc) relation alone. One "
    "explode + two vocabulary-bounded hash aggs + a broadcast "
    "1-row doc count; top-20 via TakeOrderedAndProject.",
    tags=("text", "corpus"),
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    td = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    per_doc = td.groupBy("w", "doc_id").agg(
        F.count("*").cast("double").alias("c")
    )
    n_docs = d.agg(F.count("*").cast("double").alias("nd"))
    stats = (
        per_doc.crossJoin(F.broadcast(n_docs))
        .groupBy("w")
        .agg(
            F.sum("c").alias("total"),
            F.count("*").alias("df"),
            (F.sum("c") / F.first("nd")).alias("mu"),
            (
                F.sum(F.col("c") * F.col("c")) / F.first("nd")
                - F.pow(F.sum("c") / F.first("nd"), 2)
            ).alias("var_"),
        )
    )
    return (
        stats.filter(F.col("total") >= 50)
        .select(
            F.col("w").alias("token"),
            F.col("total").cast("long").alias("total"),
            F.col("df").cast("long").alias("doc_freq"),
            F.round(F.col("var_") / F.col("mu"), 6).alias("fano_factor"),
        )
        .orderBy(F.col("fano_factor").desc(), "token")
        .limit(20)
    )


@query(
    "text-heaps-law",
    oracle="""
        WITH td AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        tok AS (SELECT doc_id, w FROM td WHERE w <> ''),
        doc_order AS (
            SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile,
                   CAST(count(*) AS DOUBLE) AS n_tok
            FROM tok GROUP BY doc_id
        ),
        first_use AS (
            SELECT w, min(doc_id) AS fd FROM tok GROUP BY w
        ),
        new_types AS (
            SELECT d.decile, CAST(count(*) AS DOUBLE) AS v_new
            FROM first_use f JOIN doc_order d ON d.doc_id = f.fd
            GROUP BY d.decile
        ),
        curve AS (
            SELECT o.decile,
                   sum(sum(o.n_tok)) OVER (ORDER BY o.decile) AS n_cum,
                   sum(coalesce(max(nt.v_new), 0))
                       OVER (ORDER BY o.decile) AS v_cum
            FROM doc_order o LEFT JOIN new_types nt ON nt.decile = o.decile
            GROUP BY o.decile
        ),
        pts AS (
            SELECT ln(n_cum) AS lx, ln(v_cum) AS ly FROM curve
        )
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               round((sum(lx * ly) - sum(lx) * sum(ly) / count(*))
                     / (sum(lx * lx) - sum(lx) * sum(lx) / count(*)), 6)
                   AS heaps_beta,
               round(exp((sum(ly) - ((sum(lx * ly) - sum(lx) * sum(ly)
                                      / count(*))
                                     / (sum(lx * lx) - sum(lx) * sum(lx)
                                        / count(*))) * sum(lx))
                         / count(*)), 6) AS heaps_k
        FROM pts
    """,
    doc="Heaps'-law fit V(n) = K * n^beta for vocabulary growth: the "
    "corpus (in doc_id order) splits into deciles; cumulative "
    "token and distinct-type counts per decile give 10 points on "
    "the growth curve, and (K, beta) come from the closed-form "
    "log-log regression. 'First use' is min(doc_id) per token — "
    "ONE vocabulary-bounded hash agg, the same no-ordered-scan "
    "trick as text-ngram-novelty — so cumulative type counts are "
    "a window over 10 decile rows, never a running distinct over "
    "the stream. beta ~0.4-0.6 for natural text; the check that "
    "tells you whether more data keeps buying vocabulary.",
    tags=("text", "corpus"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.ranking import (
        exact_ntile,
        with_global_order,
    )

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    # corpus deciles via the range-sort rank (operators/ranking.py):
    # the per-doc frame grows with the corpus, so no ntile global
    # window. Per-doc token counts come from a per-ROW
    # size(filter(split(...))) expression aggregated by doc_id —
    # NOT from a second pass over the exploded token stream: counting
    # doesn't need the rows, and the map-side expression shuffles one
    # partial count per source row instead of one row per token (r11).
    # Semantics match tok.groupBy(doc_id).count() exactly: text IS NOT
    # NULL rows only (all-NULL docs produce no tok rows), empty tokens
    # excluded by the same w != '' predicate, zero-token docs dropped
    # (they have no tok rows to count).
    n_tok_row = F.size(
        F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    )
    per_doc_tok = (
        d.filter(F.col("text").isNotNull())
        .groupBy("doc_id")
        .agg(F.sum(n_tok_row).cast("double").alias("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    # new_types and per_dec both read doc_order, a projection over the
    # rank helper's persisted sort: the per-doc counts run once.
    doc_order = with_global_order(
        per_doc_tok, "doc_id", rn="__rn", total_count="__n"
    ).select(
        "doc_id",
        exact_ntile(F.col("__rn"), F.col("__n"), 10).alias("decile"),
        "n_tok",
    )
    first_use = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    new_types = (
        first_use.join(
            doc_order.select(F.col("doc_id").alias("fd"), "decile"), "fd"
        )
        .groupBy("decile")
        .agg(F.count("*").cast("double").alias("v_new"))
    )
    per_dec = (
        doc_order.groupBy("decile")
        .agg(F.sum("n_tok").alias("toks"))
        .join(new_types, "decile", "left")
        .select(
            "decile",
            "toks",
            F.coalesce(F.col("v_new"), F.lit(0.0)).alias("v_new"),
        )
    )
    # cumulative curve via the same window-free range-sort rank (the
    # frame is only 10 decile rows, but keeping the op free of ANY
    # empty-partition window lets the plan audit hold a hard rule)
    curve = with_global_order(
        per_dec, "decile", cum_sums={"n_cum": "toks", "v_cum": "v_new"}
    ).select("decile", "n_cum", "v_cum")
    pts = curve.select(
        F.log("n_cum").alias("lx"), F.log("v_cum").alias("ly")
    )
    n = F.count("*")
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.sum("lx") * F.sum("ly") / n
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.sum("lx") * F.sum("lx") / n
    beta = sxy / sxx
    intercept = (F.sum("ly") - beta * F.sum("lx")) / n
    return pts.agg(
        n.cast("long").alias("n_points"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp(intercept), 6).alias("heaps_k"),
    )


@query(
    "corpus-vocab-overlap",
    oracle="""
        WITH vocab AS (
            SELECT DISTINCT lang,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        v AS (SELECT lang, w FROM vocab WHERE w <> ''),
        en AS (SELECT w FROM v WHERE lang = 'en'),
        sizes AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS vocab_size
            FROM v GROUP BY lang
        ),
        hits AS (
            SELECT v.lang, CAST(count(*) AS BIGINT) AS n_shared
            FROM v JOIN en ON en.w = v.w
            WHERE v.lang <> 'en'
            GROUP BY v.lang
        )
        SELECT s.lang, s.vocab_size,
               CAST(coalesce(h.n_shared, 0) AS BIGINT) AS shared_with_en,
               round(CAST(coalesce(h.n_shared, 0) AS DOUBLE)
                     / s.vocab_size, 6) AS en_coverage
        FROM sizes s LEFT JOIN hits h ON h.lang = s.lang
        WHERE s.lang <> 'en'
        ORDER BY s.lang
    """,
    doc="Cross-lingual vocabulary overlap: for each non-English "
    "sub-corpus, what fraction of its distinct tokens also appear "
    "in the English vocabulary — the contamination/code-switching "
    "screen run before trusting language labels for corpus "
    "mixing (high en_coverage on a 'de' slice means mislabeled or "
    "heavily code-switched text). Facts collapse once to the "
    "distinct (lang, token) relation (vocabulary-bounded, the "
    "agg-heavy-hitters scaling argument); the overlap is a "
    "token-keyed semi-join against the English slice and the "
    "rates ride a 4-row summary join.",
    tags=("text", "corpus"),
)
def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # persist the VOCABULARY-BOUNDED distinct (lang, token) relation:
    # the English slice, the per-language sizes and the overlap probe
    # all re-consumed it, each re-running the tokenize/explode/distinct
    # (3 documents scans -> 1); summary cache width per
    # session.cache_width
    v = (
        d.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
        .coalesce(cache_width(spark))
        .persist()
    )
    en = v.filter(F.col("lang") == "en").select("w")
    sizes = v.groupBy("lang").agg(
        F.count("*").cast("long").alias("vocab_size")
    )
    hits = (
        v.filter(F.col("lang") != "en")
        .join(en, "w")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        sizes.filter(F.col("lang") != "en")
        .join(hits, "lang", "left")
        .select(
            "lang",
            "vocab_size",
            F.coalesce(F.col("n_shared"), F.lit(0))
            .cast("long")
            .alias("shared_with_en"),
            F.round(
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / F.col("vocab_size"),
                6,
            ).alias("en_coverage"),
        )
        .orderBy("lang")
    )


@query(
    "text-mattr-diversity",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, CAST((idx - 1) // 50 AS BIGINT) AS chunk
            FROM (
                SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS w,
                       generate_subscripts(
                           string_split(lower(text), ' '), 1) AS idx
                FROM documents
            ) WHERE w <> ''
        ),
        chunks AS (
            SELECT doc_id, chunk,
                   CAST(count(DISTINCT w) AS DOUBLE) AS types,
                   CAST(count(*) AS DOUBLE) AS tokens
            FROM tok GROUP BY doc_id, chunk
            HAVING count(*) = 50
        ),
        per_doc AS (
            SELECT doc_id, avg(types / tokens) AS mattr,
                   CAST(count(*) AS BIGINT) AS n_chunks
            FROM chunks GROUP BY doc_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(mattr), 6) AS corpus_mattr,
               round(min(mattr), 6) AS min_doc_mattr,
               round(max(mattr), 6) AS max_doc_mattr
        FROM per_doc
    """,
    doc="Moving-average type-token ratio (MATTR-style, tumbling "
    "50-token chunks): raw TTR is length-biased garbage — long "
    "docs always look less diverse — so diversity is measured as "
    "the mean distinct-type ratio over fixed-size chunks (full "
    "chunks only; the ragged tail would re-introduce the length "
    "bias). Chunk id = token position div 50 via posexplode, so "
    "chunking is a map-side expression, the per-chunk distinct "
    "count is a (doc, chunk)-keyed hash agg, and everything "
    "after is summary-sized. The lexical-diversity quality "
    "signal corpus curation uses alongside text-char-entropy "
    "(which measures characters; this measures vocabulary "
    "recycling).",
    tags=("text", "corpus"),
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("idx0", "w"),
    ).filter(F.col("w") != "").select(
        "doc_id", "w", (F.col("idx0") / 50).cast("long").alias("chunk")
    )
    chunks = (
        tok.groupBy("doc_id", "chunk")
        .agg(
            F.countDistinct("w").cast("double").alias("types"),
            F.count("*").cast("double").alias("tokens"),
        )
        .filter(F.col("tokens") == 50)
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.avg(F.col("types") / F.col("tokens")).alias("mattr"),
        F.count("*").cast("long").alias("n_chunks"),
    )
    return per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("mattr"), 6).alias("corpus_mattr"),
        F.round(F.min("mattr"), 6).alias("min_doc_mattr"),
        F.round(F.max("mattr"), 6).alias("max_doc_mattr"),
    )


@query(
    "text-langid-eval",
    oracle="""
        WITH pred AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS actual,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                            t -> t IN ('the', 'a', 'of', 'and'))) >= 3
                        THEN 1 ELSE 0 END AS predicted
            FROM documents
        ),
        cells AS (
            SELECT CAST(sum(actual * predicted) AS DOUBLE) AS tp,
                   CAST(sum((1 - actual) * predicted) AS DOUBLE) AS fp,
                   CAST(sum(actual * (1 - predicted)) AS DOUBLE) AS fn,
                   CAST(sum((1 - actual) * (1 - predicted)) AS DOUBLE) AS tn,
                   CAST(count(*) AS DOUBLE) AS n
            FROM pred
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               round(tp / (tp + fp), 6) AS precision_,
               round(tp / (tp + fn), 6) AS recall_,
               round(2 * tp / (2 * tp + fp + fn), 6) AS f1,
               round(((tp + tn) / n
                      - ((tp + fp) * (tp + fn)
                         + (fn + tn) * (fp + tn)) / (n * n))
                     / (1 - ((tp + fp) * (tp + fn)
                             + (fn + tn) * (fp + tn)) / (n * n)), 6)
                   AS cohens_kappa
        FROM cells
    """,
    doc="Classifier evaluation harness for text-lang-id's stopword "
    "heuristic against the labeled lang column (binary en vs "
    "other): the full confusion matrix from ONE conditional "
    "aggregation (tp/fp/fn/tn as products of indicator columns — "
    "no groupBy, no shuffle), then precision, recall, F1, and "
    "Cohen's kappa (chance-corrected agreement — the honest "
    "number when classes are imbalanced; accuracy alone "
    "flatters). The evaluate-any-classifier-at-scale template: "
    "predictions and labels never leave the scan, the confusion "
    "matrix IS the shuffle payload (4 doubles).",
    tags=("text", "stats"),
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    pred = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("actual"),
        F.when(en_hits >= 3, 1).otherwise(0).alias("predicted"),
    )
    a, p = F.col("actual"), F.col("predicted")
    cells = pred.agg(
        F.sum(a * p).cast("double").alias("tp"),
        F.sum((1 - a) * p).cast("double").alias("fp"),
        F.sum(a * (1 - p)).cast("double").alias("fn"),
        F.sum((1 - a) * (1 - p)).cast("double").alias("tn"),
        F.count("*").cast("double").alias("n"),
    )
    tp, fp, fn, tn, n = (
        F.col("tp"),
        F.col("fp"),
        F.col("fn"),
        F.col("tn"),
        F.col("n"),
    )
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    po = (tp + tn) / n
    return cells.select(
        n.cast("long").alias("n_docs"),
        F.round(tp / (tp + fp), 6).alias("precision_"),
        F.round(tp / (tp + fn), 6).alias("recall_"),
        F.round(2 * tp / (2 * tp + fp + fn), 6).alias("f1"),
        F.round((po - pe) / (1 - pe), 6).alias("cohens_kappa"),
    )


@query(
    "text-pmi-cooccurrence",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        df AS (
            SELECT w, CAST(count(*) AS DOUBLE) AS d
            FROM tok WHERE w <> '' GROUP BY w
        ),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        top_ AS (
            SELECT w, d FROM df ORDER BY d DESC, w LIMIT 50
        ),
        keep AS (
            SELECT t.doc_id, t.w, tp.d FROM tok t
            JOIN top_ tp ON tp.w = t.w
        ),
        pairs AS (
            SELECT a.w AS w1, b.w AS w2,
                   CAST(count(*) AS DOUBLE) AS both_,
                   max(a.d) AS d1, max(b.d) AS d2
            FROM keep a JOIN keep b
              ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY a.w, b.w
        )
        SELECT w1, w2, CAST(both_ AS BIGINT) AS n_docs_both,
               round(ln((both_ / n) / ((d1 / n) * (d2 / n))), 6) AS pmi
        FROM pairs, nd
        WHERE both_ >= 5
        ORDER BY pmi DESC, w1, w2
        LIMIT 20
    """,
    doc="Pointwise mutual information between frequent-token pairs at "
    "the document level: PMI = ln(p(both)/(p(x)p(y))) over "
    "document co-occurrence, surfacing collocations that raw "
    "co-count buries under function-word pairs. The scale "
    "discipline is the TOP-50-df CAP applied BEFORE the "
    "doc-keyed self-join — unbounded vocabulary self-joined on "
    "doc_id is the classic co-occurrence blow-up; capping to a "
    "broadcastable term set bounds per-doc fan-out at "
    "C(50,2) and is how real collocation miners window their "
    "vocabulary. Distinct (doc, token) membership (presence, "
    "not counts) keeps the relation minimal; n>=5 support "
    "floor stabilizes the log.",
    tags=("text", "corpus"),
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # persist: the doc-frequency rollup AND both sides of the
    # co-occurrence self-join consume tok — unpersisted, the
    # explode + distinct (a full token-row shuffle) was planned three
    # times (r11). One (doc_id, word) row per distinct pair; the
    # registry-level release_caches() reclaims it.
    tok = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
        .persist()
    )
    df = tok.groupBy("w").agg(F.count("*").cast("double").alias("d"))
    nd = d.agg(F.count("*").cast("double").alias("n"))
    top = df.orderBy(F.col("d").desc(), "w").limit(50)
    keep = tok.join(F.broadcast(top), "w")
    a = keep.select("doc_id", F.col("w").alias("w1"), F.col("d").alias("d1"))
    b = keep.select(
        F.col("doc_id").alias("doc2"),
        F.col("w").alias("w2"),
        F.col("d").alias("d2"),
    )
    pairs = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc2")) & (F.col("w1") < F.col("w2")),
        )
        .groupBy("w1", "w2")
        .agg(
            F.count("*").cast("double").alias("both_"),
            F.max("d1").alias("d1"),
            F.max("d2").alias("d2"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(nd))
        .filter(F.col("both_") >= 5)
        .select(
            "w1",
            "w2",
            F.col("both_").cast("long").alias("n_docs_both"),
            F.round(
                F.log(
                    (F.col("both_") / F.col("n"))
                    / ((F.col("d1") / F.col("n")) * (F.col("d2") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "text-yule-k",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        counts AS (
            SELECT w, CAST(count(*) AS DOUBLE) AS m
            FROM tok WHERE w <> '' GROUP BY w
        ),
        s AS (
            SELECT sum(m) AS n, sum(m * m) AS sm2,
                   CAST(count(*) AS BIGINT) AS v
            FROM counts
        )
        SELECT CAST(n AS BIGINT) AS n_tokens,
               v AS vocabulary,
               round(10000 * (sm2 - n) / (n * n), 6) AS yule_k,
               round(CAST(v AS DOUBLE) / n, 6) AS ttr
        FROM s
    """,
    doc="Yule's characteristic K — the classic length-invariant "
    "vocabulary-repetitiveness constant: K = 10^4 * "
    "(sum(m_w^2) - N) / N^2 over per-token counts m_w (high K = "
    "few tokens dominate = repetitive/boilerplate corpus; K is "
    "what raw type-token ratio pretends to be but TTR shrinks "
    "with corpus size while K does not — both reported so the "
    "contrast is visible). sum(m^2) is the second moment of the "
    "count distribution — one explode + one vocabulary-bounded "
    "hash agg + one scalar reduce, the cheapest corpus-"
    "fingerprint there is; complements text-mattr-diversity "
    "(windowed TTR) and text-zipf-slope (rank-frequency shape) "
    "as the lexical-health triple.",
    tags=("text", "corpus"),
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("m"))
    )
    s = counts.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("m")).alias("sm2"),
        F.count("*").cast("long").alias("v"),
    )
    n = F.col("n")
    return s.select(
        n.cast("long").alias("n_tokens"),
        F.col("v").alias("vocabulary"),
        F.round(10000 * (F.col("sm2") - n) / (n * n), 6).alias("yule_k"),
        F.round(F.col("v").cast("double") / n, 6).alias("ttr"),
    )


@query(
    "corpus-gopher-rule-audit",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   CASE WHEN len(string_split(text, ' '))
                             NOT BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
                       AS f_len,
                   CASE WHEN (length(text) - len(string_split(text, ' ')) + 1.0)
                             / len(string_split(text, ' '))
                             NOT BETWEEN 3 AND 10 THEN 1 ELSE 0 END
                       AS f_wordlen,
                   CASE WHEN CAST(length(regexp_replace(text,
                                  '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                             / length(text) > 0.1 THEN 1 ELSE 0 END
                       AS f_symbol,
                   CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                  t -> regexp_matches(t, '[a-zA-Z]')))
                             AS DOUBLE)
                             / len(string_split(text, ' ')) < 0.8
                        THEN 1 ELSE 0 END AS f_alpha,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                                  t -> t IN ('a', 'the'))) < 2
                        THEN 1 ELSE 0 END AS f_stop
            FROM documents
        ),
        tot AS (
            SELECT *, f_len + f_wordlen + f_symbol + f_alpha + f_stop AS nf
            FROM scored
        ),
        s AS (
            SELECT CAST(sum(f_len) AS BIGINT) AS a1,
                   CAST(sum(CASE WHEN f_len = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
                   CAST(sum(f_wordlen) AS BIGINT) AS a2,
                   CAST(sum(CASE WHEN f_wordlen = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
                   CAST(sum(f_symbol) AS BIGINT) AS a3,
                   CAST(sum(CASE WHEN f_symbol = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
                   CAST(sum(f_alpha) AS BIGINT) AS a4,
                   CAST(sum(CASE WHEN f_alpha = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
                   CAST(sum(f_stop) AS BIGINT) AS a5,
                   CAST(sum(CASE WHEN f_stop = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
                   CAST(sum(CASE WHEN nf >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS aany,
                   CAST(sum(CASE WHEN nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bany
            FROM tot
        )
        SELECT 'len' AS rule, a1 AS n_fail, b1 AS n_sole_fail FROM s
        UNION ALL SELECT 'wordlen', a2, b2 FROM s
        UNION ALL SELECT 'symbol', a3, b3 FROM s
        UNION ALL SELECT 'alpha', a4, b4 FROM s
        UNION ALL SELECT 'stopword', a5, b5 FROM s
        UNION ALL SELECT 'any', aany, bany FROM s
    """,
    doc="Gopher-style rule-battery AUDIT: per-rule failure attribution "
    "(token-count bounds, mean word length 3..10, symbol-char ratio, "
    "alpha-token fraction, min stopword hits) with sole-failure "
    "counts — the report a curation team reads BEFORE committing to "
    "the combined gate (corpus-filter-pipeline applies one; "
    "text-quality-score emits raw features). n_sole_fail shows which "
    "rule uniquely removes mass — the number that decides whether a "
    "rule earns its false-positive risk at 100 TB. One scan, one "
    "codegen'd projection of boolean flags, one 12-number aggregate; "
    "the 6-row report is a stack() over the scalar summary.",
    tags=("text", "corpus"),
)
def corpus_gopher_rule_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    mwl = (F.length("text") - n + 1.0) / n
    # try_divide: empty hostile text -> length 0 -> NULL ratio, and the
    # `> 0.1` flag falls to 0 on both engines (DuckDB CASE ELSE 0).
    sym = F.try_divide(
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double"),
        F.length("text"),
    )
    alpha = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("double") / n
    )
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    scored = d.select(
        flag(~n.between(20, 1000)).alias("f_len"),
        flag(~mwl.between(3, 10)).alias("f_wordlen"),
        flag(sym > 0.1).alias("f_symbol"),
        flag(alpha < 0.8).alias("f_alpha"),
        flag(stop_hits < 2).alias("f_stop"),
    ).withColumn(
        "nf",
        F.col("f_len") + F.col("f_wordlen") + F.col("f_symbol")
        + F.col("f_alpha") + F.col("f_stop"),
    )
    sole = lambda c: F.sum(  # noqa: E731
        F.when((F.col(c) == 1) & (F.col("nf") == 1), 1).otherwise(0)
    )
    s = scored.agg(
        F.sum("f_len").cast("long").alias("a1"),
        sole("f_len").cast("long").alias("b1"),
        F.sum("f_wordlen").cast("long").alias("a2"),
        sole("f_wordlen").cast("long").alias("b2"),
        F.sum("f_symbol").cast("long").alias("a3"),
        sole("f_symbol").cast("long").alias("b3"),
        F.sum("f_alpha").cast("long").alias("a4"),
        sole("f_alpha").cast("long").alias("b4"),
        F.sum("f_stop").cast("long").alias("a5"),
        sole("f_stop").cast("long").alias("b5"),
        F.sum(F.when(F.col("nf") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("aany"),
        F.sum(F.when(F.col("nf") == 1, 1).otherwise(0))
        .cast("long")
        .alias("bany"),
    )
    return s.selectExpr(
        "stack(6, 'len', a1, b1, 'wordlen', a2, b2, 'symbol', a3, b3, "
        "'alpha', a4, b4, 'stopword', a5, b5, 'any', aany, bany) "
        "AS (rule, n_fail, n_sole_fail)"
    )


@query(
    "corpus-tokenizer-fertility",
    oracle="""
        WITH per_doc AS (
            SELECT lang,
                   len(regexp_extract_all(text,
                       '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
                   len(string_split(text, ' ')) AS n_words,
                   length(text) AS n_chars
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_bpe) AS BIGINT) AS total_tokens,
               round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_words), 6)
                   AS fertility_tokens_per_word,
               round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 6)
                   AS chars_per_token,
               round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_chars) * 1000, 6)
                   AS tokens_per_kchar
        FROM per_doc
        GROUP BY lang
    """,
    doc="Tokenizer fertility report by language: BPE-ish regex tokens "
    "per whitespace word (fertility), chars per token (compression), "
    "tokens per 1000 chars — the per-language cost model that "
    "decides token budgets and exposes tokenizer bias against "
    "low-resource languages (high fertility = more tokens per word "
    "= more compute per sentence). Pools corpus-level ratios "
    "(sum/sum, not mean-of-ratios, so long docs weigh in "
    "proportionally). One codegen'd projection + one hash "
    "aggregation; pairs with corpus-token-budget (budget planning) "
    "and corpus-language-balance-sampler (mixture weights).",
    tags=("corpus", "text"),
)
def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("n_bpe"),
        F.size(F.split("text", " ")).alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bpe").cast("long").alias("total_tokens"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_words"), 6
        ).alias("fertility_tokens_per_word"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
        ).alias("chars_per_token"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_chars") * 1000, 6
        ).alias("tokens_per_kchar"),
    )


@query(
    "text-burrows-delta",
    oracle="""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        src_tot AS (SELECT source, count(*) AS nt FROM toks GROUP BY source),
        top AS (
            SELECT tok FROM (
                SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS r
                FROM toks GROUP BY tok
            ) WHERE r <= 10
        ),
        freq AS (
            SELECT t.source, t.tok, count(*) AS c
            FROM toks t JOIN top ON t.tok = top.tok
            GROUP BY t.source, t.tok
        ),
        grid AS (SELECT s.source, s.nt, top.tok FROM src_tot s, top),
        rel AS (
            SELECT g.source, g.tok,
                   CAST(coalesce(f.c, 0) AS DOUBLE) / g.nt AS rf
            FROM grid g LEFT JOIN freq f
              ON g.source = f.source AND g.tok = f.tok
        ),
        z AS (
            SELECT source, tok,
                   (rf - avg(rf) OVER (PARTITION BY tok))
                       / stddev_samp(rf) OVER (PARTITION BY tok) AS z
            FROM rel
        )
        SELECT a.source AS source_a, b.source AS source_b,
               round(avg(abs(a.z - b.z)), 6) AS delta
        FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    """,
    doc="Burrows' Delta authorship/stylometry distance between every "
    "source pair: relative frequencies of the 10 most-common tokens "
    "per source (0-filled on the source x token grid so absent "
    "function words count as 0, as Burrows requires), z-scored per "
    "token across sources, delta = mean |z_a - z_b|. Low delta = "
    "stylistically alike sources — the signal used to catch "
    "template farms and mirror sites that exact/near dedup misses "
    "because the CONTENT differs while the STYLE fingerprint "
    "matches. Heavy pass is one explode + two hash aggs over "
    "tokens; everything after runs on the 20-source x 10-token "
    "grid. Companion to corpus-vocab-overlap (lexical sets) and "
    "dedup-sentence-boilerplate (shared strings).",
    tags=("text",),
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # NOTE(r11): persisting toks + z was tried (8 documents scans -> 1)
    # and REVERTED — ABBA (+24%) and two consecutive sweeps (+51%,
    # +74%) agreed the exploded-token cache build costs more than the
    # column-pruned replans it saves.
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    src_tot = toks.groupBy("source").agg(F.count("*").alias("nt"))
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "tok"))
            .alias("r"),
        )
        .filter(F.col("r") <= 10)
        .select("tok")
    )
    freq = (
        toks.join(F.broadcast(top), "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    grid = src_tot.crossJoin(F.broadcast(top))
    rel = grid.join(freq, ["source", "tok"], "left").select(
        "source",
        "tok",
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("nt")).alias("rf"),
    )
    wt = Window.partitionBy("tok")
    z = rel.select(
        "source",
        "tok",
        (
            (F.col("rf") - F.avg("rf").over(wt))
            / F.stddev_samp("rf").over(wt)
        ).alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"), F.col("tok").alias("tok"), F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), F.col("tok").alias("tok_b"), F.col("z").alias("zb")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("tok") == F.col("tok_b")) & (F.col("source_a") < F.col("source_b")),
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias("delta")
    )


@query(
    "corpus-ccnet-ppl-buckets",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        vocab AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
        ),
        total AS (SELECT sum(n) AS total_n FROM vocab),
        scored AS (
            SELECT t.doc_id,
                   exp(-avg(ln(CAST(v.n AS DOUBLE) / total_n))) AS ppl
            FROM tok t JOIN vocab v ON t.token = v.token, total
            GROUP BY t.doc_id
        ),
        with_lang AS (
            SELECT d.lang, s.doc_id, s.ppl,
                   ntile(3) OVER (PARTITION BY d.lang
                                  ORDER BY s.ppl, s.doc_id) AS tertile
            FROM scored s JOIN documents d ON s.doc_id = d.doc_id
        )
        SELECT lang,
               CASE tertile WHEN 1 THEN 'head'
                            WHEN 2 THEN 'middle'
                            ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(ppl), 4) AS mean_ppl,
               round(max(ppl), 4) AS max_ppl
        FROM with_lang
        GROUP BY lang, tertile
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
    "each document with the unigram-LM perplexity proxy "
    "(exp(-mean token logprob), same vocab machinery as "
    "text-unigram-logprob), then split each language into "
    "head/middle/tail TERTILES by perplexity — head = fluent text "
    "kept for pretraining, tail = noise dropped or down-weighted, "
    "the per-language split being the part that matters (absolute "
    "ppl is not comparable across languages). ntile(3) with a "
    "deterministic (ppl, doc_id) order is engine-identical. Vocab "
    "build + prob join are the two corpus-bounded shuffles; the "
    "tertile window runs per language partition.",
    tags=("corpus", "text"),
)
def corpus_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # NOTE(r11): persisting tok + vocab (4 scans -> 1) was tried and
    # REVERTED — the conf-off sweep measured +16%; the exploded-token
    # cache build costs more than the pruned replans.
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").cast("long").alias("n"))
    total = vocab.agg(F.sum("n").alias("total_n"))
    scored = (
        tok.join(vocab, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.exp(
                -F.avg(F.log(F.col("n").cast("double") / F.col("total_n")))
            ).alias("ppl")
        )
    )
    wl = scored.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "ppl",
        F.ntile(3)
        .over(Window.partitionBy("lang").orderBy("ppl", "doc_id"))
        .alias("tertile"),
    )
    return wl.groupBy("lang", "tertile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("ppl"), 4).alias("mean_ppl"),
        F.round(F.max("ppl"), 4).alias("max_ppl"),
    ).select(
        "lang",
        F.when(F.col("tertile") == 1, "head")
        .when(F.col("tertile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        "n_docs",
        "mean_ppl",
        "max_ppl",
    )


@query(
    "text-sentence-length-profile",
    oracle="""
        WITH sents AS (
            SELECT lang, trim(s) AS s
            FROM documents, unnest(string_split(text, '. ')) AS t(s)
            WHERE length(trim(s)) > 0
        ),
        lens AS (
            SELECT lang, CAST(len(string_split(s, ' ')) AS DOUBLE) AS n_tok
            FROM sents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_sentences,
               round(avg(n_tok), 6) AS mean_tokens,
               round(stddev_samp(n_tok), 6) AS sd_tokens,
               round(stddev_samp(n_tok) / avg(n_tok), 6) AS cv_tokens,
               CAST(max(n_tok) AS BIGINT) AS max_tokens
        FROM lens
        GROUP BY lang
    """,
    doc="Sentence-length profile by language: naive '. '-split "
    "sentences (the text-split-sentences contract), per-language "
    "mean/sd/CV/max of tokens per sentence. CV of sentence length "
    "is a readability-adjacent style feature (legal/academic text "
    "runs long-uniform, chat runs short-bursty) and a cheap "
    "MT-garbage detector (machine-translated spam collapses to "
    "near-zero variance) — a per-LANGUAGE lens the per-doc "
    "text-readability score aggregates away. One explode + one "
    "hash aggregation; empty fragments dropped identically in both "
    "engines via trim + length guard.",
    tags=("text",),
)
def text_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sents = d.select(
        "lang", F.explode(F.split("text", "\\. ")).alias("s")
    ).select("lang", F.trim("s").alias("s")).filter(F.length("s") > 0)
    lens = sents.select(
        "lang", F.size(F.split("s", " ")).cast("double").alias("n_tok")
    )
    return lens.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.round(F.avg("n_tok"), 6).alias("mean_tokens"),
        F.round(F.stddev_samp("n_tok"), 6).alias("sd_tokens"),
        F.round(F.stddev_samp("n_tok") / F.avg("n_tok"), 6).alias("cv_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
    )


@query(
    "corpus-oov-rate",
    oracle="""
        WITH tok AS (
            SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        vocab AS (
            SELECT token FROM (
                SELECT token,
                       row_number() OVER (ORDER BY count(*) DESC, token) AS r
                FROM tok GROUP BY token
            ) WHERE r <= 1000
        )
        SELECT t.lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS oov_rate
        FROM tok t LEFT JOIN vocab v ON t.token = v.token
        GROUP BY t.lang
    """,
    doc="Out-of-vocabulary rate per language under a top-1000 corpus "
    "vocabulary: build the frequency-ranked vocab once "
    "(deterministic (count desc, token) cut), left-join every "
    "token occurrence against it, report per-language token mass "
    "that falls outside — the number that shows WHICH languages a "
    "shared vocabulary starves (the word-level severe version of "
    "what corpus-tokenizer-fertility measures gradually for "
    "subword tokenizers; high OOV here predicts high fertility "
    "there). Vocab is bounded (top-k) so the join broadcasts at "
    "any corpus size; one explode + two hash aggregations.",
    tags=("corpus", "text"),
)
def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count("*").alias("c"))
        .select(
            "token",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "token"))
            .alias("r"),
        )
        .filter(F.col("r") <= 1000)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "token", "left")
    return j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


@query(
    "text-self-bleu-lite",
    oracle="""
        WITH sample_docs AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % 53 = 0 AND doc_id < 5300
        ),
        vocab AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w
            FROM sample_docs
        ),
        v AS (SELECT doc_id, w FROM vocab WHERE w <> ''),
        sizes AS (
            SELECT doc_id, CAST(count(*) AS DOUBLE) AS sz
            FROM v GROUP BY doc_id
        ),
        overlap AS (
            SELECT a.doc_id AS da, b.doc_id AS db,
                   CAST(count(*) AS DOUBLE) AS inter
            FROM v a JOIN v b ON a.w = b.w AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        scored AS (
            SELECT o.da, o.db, o.inter / sa.sz AS prec
            FROM overlap o JOIN sizes sa ON sa.doc_id = o.da
        )
        SELECT CAST((SELECT count(*) FROM sample_docs) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(prec), 6) AS mean_self_bleu1,
               round(max(prec), 6) AS max_self_bleu1
        FROM scored
    """,
    doc="Self-BLEU-1 (lite) corpus-diversity probe: over a "
    "deterministic document sample, each ordered pair's unigram "
    "precision |vocab_a INTERSECT vocab_b| / |vocab_a| — the "
    "diversity metric generation pipelines track because a model "
    "(or a scraped corpus) collapsing onto template text shows "
    "self-BLEU rising toward 1 while every per-document quality "
    "score stays green. Complements dedup (which finds near-COPIES) "
    "by measuring average MUTUAL overlap. The pairwise join runs "
    "on a FIXED-SIZE sample (modulus + id cap = at most 100 docs at "
    "any corpus size, so the pair count is a constant, not "
    "corpus-quadratic — the r5 soak caught the rate-only version "
    "growing 11.8x at 10x data) with a vocab-keyed equi-join, never "
    "an all-doc cross join.",
    tags=("text", "corpus"),
)
def text_self_bleu_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 53 == 0) & (F.col("doc_id") < 5300)
    )
    # persist the distinct token vocabulary of the sample: the per-doc
    # sizes AND both overlap-join sides consume it — unpersisted the
    # explode + distinct re-planned per consumer (4 documents scans /
    # 20 Exchanges in the r11 before-plan)
    v = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
        .persist()
    )
    sizes = v.groupBy("doc_id").agg(F.count("*").cast("double").alias("sz"))
    a = v.select(F.col("doc_id").alias("da"), "w")
    b = v.select(F.col("doc_id").alias("db"), F.col("w").alias("wb"))
    overlap = (
        a.join(b, (F.col("w") == F.col("wb")) & (F.col("da") != F.col("db")))
        .groupBy("da", "db")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    scored = overlap.join(F.broadcast(sa), "da").select(
        (F.col("inter") / F.col("sza")).alias("prec")
    )
    nd = d.agg(F.count("*").cast("long").alias("n_docs"))
    return scored.crossJoin(F.broadcast(nd)).agg(
        F.max("n_docs").alias("n_docs"),
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("prec"), 6).alias("mean_self_bleu1"),
        F.round(F.max("prec"), 6).alias("max_self_bleu1"),
    )


@query(
    "text-watermark-detect",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        flagged AS (
            SELECT doc_id, lang,
                   CASE WHEN
                        (CAST(('0x' || substring(md5(token || ':wm-key-r5'), 1, 12))
                              AS BIGINT) % 2147483647) % 2 = 0
                        THEN 1.0 ELSE 0.0 END AS green
            FROM tok
        ),
        p0 AS (
            SELECT lang, avg(green) AS p FROM flagged GROUP BY lang
        ),
        perdoc AS (
            SELECT doc_id, f.lang,
                   CAST(count(*) AS DOUBLE) AS n,
                   sum(f.green) AS g, max(p0.p) AS p
            FROM flagged f JOIN p0 ON f.lang = p0.lang
            GROUP BY doc_id, f.lang
        ),
        z AS (
            SELECT lang, (g - n * p) / sqrt(n * p * (1 - p)) AS z
            FROM perdoc WHERE n >= 16
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(z), 6) AS mean_z,
               round(avg(CASE WHEN z >= 2 THEN 1.0 ELSE 0.0 END), 6)
                   AS frac_flagged
        FROM z GROUP BY lang
    """,
    doc="Statistical watermark detector (Kirchenbauer-style green-list "
    "test): a keyed hash splits the vocabulary into green/red lists; "
    "an un-watermarked document's green-token count is "
    "Binomial(n, p0) where p0 is the LANGUAGE's marginal green rate "
    "— calibrating against the corpus null instead of assuming "
    "p0 = 1/2 is what keeps the test honest on a finite vocabulary, "
    "where the hash split of frequent tokens lands away from half "
    "and the naive z is biased for every document at once. "
    "z = (g - n p0)/sqrt(n p0 (1-p0)); watermarked generations "
    "(sampler biased toward green) push z >> 2 while the per-language "
    "mean stays ~0 on clean text. The hash is the engine-portable md5 "
    "form (operators/dedup.string_hash); one explode, a tiny per-lang "
    "rate broadcast, two hash-aggs — no vocabulary state at all.",
    tags=("text", "corpus"),
)
def text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.dedup import string_hash

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    flagged = tok.select(
        "doc_id",
        "lang",
        F.when(
            string_hash(F.concat(F.col("token"), F.lit(":wm-key-r5"))) % 2
            == 0,
            1.0,
        )
        .otherwise(0.0)
        .alias("green"),
    )
    p0 = flagged.groupBy("lang").agg(F.avg("green").alias("p"))
    perdoc = (
        flagged.join(F.broadcast(p0), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("green").alias("g"),
            F.max("p").alias("p"),
        )
    )
    z = (
        perdoc.filter(F.col("n") >= 16)
        .select(
            "lang",
            (
                (F.col("g") - F.col("n") * F.col("p"))
                / F.sqrt(F.col("n") * F.col("p") * (1 - F.col("p")))
            ).alias("z"),
        )
    )
    return z.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("z"), 6).alias("mean_z"),
        F.round(
            F.avg(F.when(F.col("z") >= 2, 1.0).otherwise(0.0)), 6
        ).alias("frac_flagged"),
    )


@query(
    "text-lm-interpolated",
    oracle="""
        WITH tok AS (
            SELECT doc_id, i, token
            FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS token,
                       generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents
            ) t
        ),
        big AS (
            SELECT doc_id, i, token AS w2,
                   lag(token) OVER (PARTITION BY doc_id ORDER BY i) AS w1
            FROM tok
        ),
        uni AS (
            SELECT token AS w, CAST(count(*) AS DOUBLE) AS c1
            FROM tok GROUP BY token
        ),
        tot AS (SELECT sum(c1) AS n FROM uni),
        bi AS (
            SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2
            FROM big WHERE w1 IS NOT NULL GROUP BY w1, w2
        )
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln(0.7 * (bi.c2 / u1.c1) + 0.3 * (u2.c1 / t.n))), 6)
                   AS avg_interp_logprob
        FROM big b
        JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN tot t
        WHERE b.w1 IS NOT NULL
        GROUP BY b.doc_id
    """,
    doc="Jelinek-Mercer interpolated bigram language model: per token "
    "position, P = 0.7*P_bigram(w2|w1) + 0.3*P_unigram(w2); per-doc "
    "mean log-prob is the perplexity-proxy score. Interpolation is "
    "what makes the bigram model DEPLOYABLE for filtering — the pure "
    "bigram (text-bigram-perplexity) assigns -inf to any unseen "
    "pair, so a single novel bigram vetoes a document; the unigram "
    "backoff (text-unigram-logprob) floors it. Bigrams come from a "
    "per-doc lag window (PARTITIONED by doc — parallel across the "
    "corpus); LM state is the (vocab, bigram) count tables keyed by "
    "token — corpus-size-independent joins, the CCNet architecture.",
    tags=("text", "corpus"),
)
def text_lm_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # NOTE(r11): persisting tok / the bigram stream / uni was tried
    # (5 documents scans -> 1) and REVERTED — two consecutive sweeps
    # (+70%, +59%) measured the exploded-relation cache builds costing
    # more than the column-pruned replans they save.
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    big = tok.select(
        "doc_id",
        "i",
        F.col("token").alias("w2"),
        F.lag("token").over(w).alias("w1"),
    )
    bigrams = big.filter(F.col("w1").isNotNull())
    uni = tok.groupBy(F.col("token").alias("w")).agg(
        F.count("*").cast("double").alias("c1")
    )
    tot = uni.agg(F.sum("c1").alias("n"))
    bi = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c2")
    )
    u1 = uni.select(F.col("w").alias("u1_w"), F.col("c1").alias("u1_c"))
    u2 = uni.select(F.col("w").alias("u2_w"), F.col("c1").alias("u2_c"))
    return (
        bigrams
        .join(bi, ["w1", "w2"])
        .join(u1, F.col("w1") == F.col("u1_w"))
        .join(u2, F.col("w2") == F.col("u2_w"))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        0.7 * (F.col("c2") / F.col("u1_c"))
                        + 0.3 * (F.col("u2_c") / F.col("n"))
                    )
                ),
                6,
            ).alias("avg_interp_logprob"),
        )
    )
