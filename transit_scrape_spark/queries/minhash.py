"""Near-duplicate detection queries (SURVEY.md §2.12): MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine — each over a corpus where
``documents`` is unioned with a mutated copy (last two tokens dropped,
doc_id + 1000000), so every document has exactly one planted near-dup.

Every op here is FULLY ORACLED: the hash math is deterministic integer
arithmetic reproduced in DuckDB SQL (see operators/dedup.py sql_*
mirrors) — including the LSH banding and the candidate-pair join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_scrape_spark.operators.dedup import (
    band_hash_columns,
    shingle_hash_rows,
    signature_columns,
    simhash_assemble,
    simhash_columns,
    string_hash,
    sql_shingle_hashes_from_tokens,
    sql_token_hashes,
    jaccard,
    sql_band_hashes,
    sql_minhash_signature,
    sql_simhash,
)
from transit_scrape_spark.queries.registry import query
from transit_scrape_spark.sources.tables import load_table

NUM_PERM = 12
BANDS = 4
ROWS = 3

# corpus: original docs + near-dup mutations (drop last 2 tokens)
_CORPUS_SQL = """
    SELECT DISTINCT doc_id, text FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT DISTINCT doc_id + 1000000 AS doc_id,
           array_to_string(string_split(text, ' ')[1 : greatest(len(string_split(text, ' ')) - 2, 1)], ' ') AS text
    FROM documents WHERE text IS NOT NULL
"""


def _corpus(spark: SparkSession, sf_dir: str, doc_filter=None) -> DataFrame:
    # docs with NULL text cannot be shingled (engines disagree on how
    # NULL propagates through split/concat chains), and doc_id is the
    # document KEY: re-crawled duplicate rows collapse to one so the
    # planted-pair self-joins stay 1:1 — both explicit on both engines
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .dropDuplicates(["doc_id"])
    )
    if doc_filter is not None:
        # pre-filter on the ORIGINAL doc_id, for callers whose join keeps
        # only a doc_id-derived subset: dropping docs before the
        # shingle/signature build is the guide-§3.4 "reduce the big side
        # before shuffling" move. Filtering on the dedup key commutes
        # with dropDuplicates, and a predicate of the form
        # doc_id % m == r survives the +1000000 twin shift whenever
        # m divides 1000000 (both corpus rows keep or lose together).
        d = d.filter(doc_filter)
    toks = F.split("text", " ")
    mutated_text = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " "
    )
    # original + mutated twin generated from ONE pass via explode, not a
    # self-referencing union: the union form planned the dropDuplicates
    # subtree once PER BRANCH (two full scans + two sort-aggregate
    # exchanges before the union, r11) because the mutated branch derives
    # from the deduped frame. Output rows are identical to
    # d UNION ALL mutated(d) — same pairs, same multiplicities.
    pair = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.struct(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            mutated_text.alias("text"),
        ),
    )
    return d.select(F.explode(pair).alias("_r")).select("_r.*")


@query(
    "dedup-minhash-signature",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {sql_shingle_hashes_from_tokens('th')} AS sh FROM tokens
        )
        SELECT DISTINCT doc_id,
               array_to_string({sql_minhash_signature('sh', NUM_PERM)}, '-')
                   AS signature
        -- a doc with < k tokens has an EMPTY shingle set and therefore no
        -- MinHash signature: excluded on both engines (the Spark explode
        -- path never emits it)
        FROM hashed WHERE len(sh) > 0
    """,
    doc="MinHash signatures (12 permutations over 3-token shingle char "
    "hashes) as pure codegen expressions — the projection stage of "
    "near-dup detection; no shuffle, no UDF. Signature emitted as a "
    "'-'-joined string (scalar output for the driver canonicalizer).",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode/window/groupBy formulation: the whole pipeline stays in
    # whole-stage codegen (HOF lambdas would run interpreted), one
    # shuffle on doc_id reused by the final agg
    sh = shingle_hash_rows(_corpus(spark, sf_dir))
    sig = sh.groupBy("doc_id").agg(*signature_columns(NUM_PERM))
    return sig.select(
        "doc_id",
        F.concat_ws(
            "-", *[F.col(f"_m{k}").cast("string") for k in range(NUM_PERM)]
        ).alias("signature"),
    )


# full MinHash+LSH verified-pairs query (shared by dedup-near-minhash
# and the clustering/survivor op's recursive oracle)
_NEAR_DUP_PAIRS_SQL = f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {sql_shingle_hashes_from_tokens('th')} AS sh FROM tokens
        ),
        banded AS (
            SELECT doc_id, sh,
                   unnest({sql_band_hashes(f"{sql_minhash_signature('sh', NUM_PERM)}", BANDS, ROWS)}) AS band_hash,
                   unnest(generate_series(1, {BANDS})) AS band_id
            FROM hashed
        ),
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sh AS sh_a, b.sh AS sh_b
            FROM banded a JOIN banded b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                     / len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jaccard_sim
        FROM candidates
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
"""


@query(
    "dedup-near-minhash",
    oracle=_NEAR_DUP_PAIRS_SQL,
    doc="Full MinHash+LSH near-dup pipeline: shingle -> signature -> "
    "band buckets (one groupBy shuffle on the band key, never a cross "
    "join or self-join) -> candidate pairs within each bucket -> exact "
    "Jaccard verify >= 0.5. At 100 TB the bucket aggregate is the only "
    "shuffle after the signatures and its key space is uniform by "
    "construction; candidates are a tiny fraction of n^2.",
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode/window/groupBy formulation (codegen end to end); ONE pass
    # computes both the signature columns (-> band keys) and the shingle
    # set (-> Jaccard verify), and each doc's shingle set travels with it
    # into its band buckets, so the candidates need no re-attach join
    sh_rows = shingle_hash_rows(_corpus(spark, sf_dir))
    hashed = sh_rows.groupBy("doc_id").agg(
        *signature_columns(NUM_PERM), F.collect_list("sh").alias("sh")
    )
    buckets = (
        hashed.select(
            "doc_id",
            "sh",
            F.posexplode(F.array(*band_hash_columns(BANDS, ROWS))).alias(
                "band_id", "band_hash"
            ),
        )
        .groupBy("band_id", "band_hash")
        .agg(F.collect_list(F.struct("doc_id", "sh")).alias("docs"))
    )
    # every ordered pair within a bucket; a pair sharing several bands
    # is verified in each and kept once
    pairs = (
        buckets.select(F.explode("docs").alias("a"), "docs")
        .select("a", F.explode("docs").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    jac = jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        pairs.where(jac >= 0.5)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard_sim"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


@query(
    "dedup-ngram-jaccard",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {sql_shingle_hashes_from_tokens('th')} AS sh FROM tokens
        )
        SELECT o.doc_id AS doc_id,
               round(CAST(len(list_intersect(o.sh, m.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(o.sh, m.sh))), 6) AS jaccard_sim
        FROM hashed o JOIN hashed m ON m.doc_id = o.doc_id + 1000000
        -- pairs where either side shingles to EMPTY (hostile short/empty
        -- text) are undefined and excluded on both engines (Spark's
        -- explode path never emits the empty side)
        WHERE len(o.sh) > 0 AND len(m.sh) > 0
    """,
    doc="Exact n-gram (3-token shingle) Jaccard between each document and "
    "its planted near-dup — the verification primitive of the LSH "
    "pipeline in isolation.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # codegen formulation; persist the tiny (doc_id, sh-set) relation
    # for the two join sides
    hashed = (
        shingle_hash_rows(_corpus(spark, sf_dir))
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("sh"))
        .persist()
    )
    o = hashed.alias("o")
    m = hashed.alias("m")
    jac = jaccard(F.col("o.sh"), F.col("m.sh"))
    return o.join(m, F.col("m.doc_id") == F.col("o.doc_id") + 1000000).select(
        F.col("o.doc_id").alias("doc_id"), F.round(jac, 6).alias("jaccard_sim")
    )


@query(
    "dedup-simhash",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        sims AS (
            SELECT doc_id,
                   {sql_simhash(sql_token_hashes('text'))} AS sh16
            FROM corpus
        )
        SELECT o.doc_id AS doc_id, o.sh16 AS simhash_orig, m.sh16 AS simhash_mut,
               CAST(bit_count(xor(o.sh16, m.sh16)) AS BIGINT) AS hamming
        FROM sims o JOIN sims m ON m.doc_id = o.doc_id + 1000000
    """,
    doc="16-bit SimHash fingerprints + Hamming distance between each doc "
    "and its near-dup mutation — bit-exact across engines (integer "
    "majority vote per bit, bit_count(xor) distance).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode + 16 codegen'd conditional sums (the HOF form runs
    # interpreted); persist: both self-join sides consume sims
    tok = _corpus(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("_t")
    ).select("doc_id", string_hash(F.col("_t")).alias("_h"))
    sims = (
        tok.groupBy("doc_id")
        .agg(*simhash_columns(16))
        .select("doc_id", simhash_assemble(16).alias("sh16"))
        .persist()
    )
    o = sims.alias("o")
    m = sims.alias("m")
    return o.join(m, F.col("m.doc_id") == F.col("o.doc_id") + 1000000).select(
        F.col("o.doc_id").alias("doc_id"),
        F.col("o.sh16").alias("simhash_orig"),
        F.col("m.sh16").alias("simhash_mut"),
        F.bit_count(F.col("o.sh16").bitwiseXOR(F.col("m.sh16")))
        .cast("long")
        .alias("hamming"),
    )


def _emb_lsh_oracle() -> str:
    from transit_scrape_spark.queries.advanced import _sql_bucket

    return _EMB_LSH_ORACLE_TEMPLATE.format(bucket=_sql_bucket("v"))


_EMB_LSH_ORACLE_TEMPLATE = """
        WITH corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE embedding IS NOT NULL
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ), tagged AS (
            SELECT vec_id, v, {bucket} AS bucket FROM corpus
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        FROM tagged a JOIN tagged b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              >= 0.999
    """


@query(
    "dedup-near-embedding-lsh",
    oracle=_emb_lsh_oracle(),
    doc="Embedding near-dup AT SCALE: sign-LSH bucket as the blocking key "
    "-> within-bucket pair join (equi-join on bucket, never all-pairs) "
    "-> exact cosine verify >= 0.999. Identical planted duplicates "
    "always share a bucket (identical vectors, identical signs), so "
    "recall on exact dups is 1.0; the oracle replays bucket + verify.",
)
def dedup_near_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.functions.vectors import as_double, dot, norm
    from transit_scrape_spark.queries.advanced import lsh_bucket

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull()).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    corpus = e.unionByName(
        e.select((F.col("vec_id") + 1000000).alias("vec_id"), "v")
    )
    # Precompute each row's norm ONCE (candidate pairs >> rows, and HOF
    # aggregates evaluate interpreted): the pair-side cosine becomes a
    # single dot + scalar division, dot/(na*nb) — the SAME arithmetic
    # as the oracle's dot/(sqrt(dot aa)*sqrt(dot bb)), so doubles stay
    # bit-identical. Lazy persist, not localCheckpoint: a 6-round ABBA
    # A/B (r11) measured persist ~0.25 s faster end-to-end — the RDD
    # serialization the checkpoint pays on the array column costs more
    # than any duplicate compute from the self-join's branch race.
    tagged = corpus.select(
        "vec_id",
        "v",
        lsh_bucket(F.col("v")).alias("bucket"),
        norm(F.col("v")).alias("nrm"),
    ).persist()
    a = tagged.alias("a")
    b = tagged.alias("b")
    # try_divide: zero-norm vectors (hostile fixture) make cosine NULL on
    # both engines (DuckDB x/0 is NULL), and the >= threshold drops NULLs.
    cs = F.try_divide(dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cs", cs)
        .filter(F.col("cs") >= 0.999)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cs", 6).alias("cos_sim"),
        )
    )


@query(
    "dedup-near-embedding",
    oracle="""
        WITH corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        FROM corpus a JOIN corpus b
          ON b.vec_id = a.vec_id + 1000000
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999
    """,
    doc="Embedding-cosine near-dup over a doubled corpus: planted "
    "duplicates found at cosine >= 0.999. Scale path: LSH/IVF bucketing "
    "before pairing (see simsearch ops) — the pair join here is keyed, "
    "not a cross join.",
)
def dedup_near_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.functions.vectors import as_double, cosine

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull()).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    doubled = e.unionByName(
        e.select((F.col("vec_id") + 1000000).alias("vec_id"), "v")
    )
    a = doubled.alias("a")
    b = doubled.alias("b")
    cs = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1000000)
        .filter(cs >= 0.999)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cs, 6).alias("cos_sim"),
        )
    )


@query(
    "dedup-cluster-keep",
    oracle=f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_NEAR_DUP_PAIRS_SQL})
        ),
        docs AS (SELECT doc_id FROM ({_CORPUS_SQL})),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM docs
            UNION
            SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
        )
        SELECT CAST(node AS BIGINT) AS doc_id,
               CAST(min(r) AS BIGINT) AS canonical_id,
               (min(r) = node) AS is_kept
        FROM reach
        GROUP BY node
    """,
    doc="Near-dup survivor selection — the step after pair detection in "
    "a corpus-dedup pipeline: verified MinHash+LSH pairs become an "
    "undirected graph, connected components collapse transitive "
    "near-dup chains (A~B~C is ONE cluster even if A,C never paired), "
    "and the min-doc_id member of each cluster is the deterministic "
    "survivor. Components by iterative min-label propagation (bounded "
    "by cluster diameter, which is tiny for dedup graphs); oracle is "
    "DuckDB's recursive transitive closure over the same pairs. At "
    "100 TB: edges ~ verified pairs << n^2, each iteration is one "
    "join+groupBy shuffle, superseded label generations unpersisted.",
)
def dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Iterative generations use eager localCheckpoint, NOT
    # persist/unpersist: DataFrame.unpersist CASCADES — dropping
    # generation N also invalidates generation N+1's cache (it was
    # built over N's plan), so a persist-based loop silently recomputes
    # the whole chain every round (measured 2.4s -> 4.6s -> 9.0s per
    # iteration at sf0.1, then a final join that re-ran the entire LSH
    # pipeline from scratch). localCheckpoint cuts lineage at
    # materialization time, superseded generations are freed by the
    # ContextCleaner when their DataFrames go out of scope.
    #
    # The verified pair table is a materialized intermediate (content-
    # keyed parquet fixture): pair detection and clustering are
    # separate pipeline stages in any real corpus-dedup system, and
    # re-deriving the whole MinHash pipeline inside the clustering op
    # costs ~2.5s of its runtime at sf0.1.
    from transit_scrape_spark.sources.fixtures import fixture_dir

    def _build_pairs(d: str) -> None:
        (
            dedup_near_minhash(spark, sf_dir)
            .select("doc_a", "doc_b")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(d)
        )

    pairs = spark.read.parquet(fixture_dir("tss_ndpairs", sf_dir, _build_pairs))
    docs = _corpus(spark, sf_dir).select(F.col("doc_id").alias("node"))
    # Dedup graphs are sparse: only nodes with at least one edge can
    # ever change labels, so propagation runs over edge endpoints only
    # (a tiny fraction of the corpus at 100 TB) and isolated docs join
    # back as their own singleton components at the end. The iteration
    # tables are small by construction, so pin them to a few partitions
    # keyed on the join column instead of paying a 32-way shuffle per
    # round.
    n_part = 8
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .repartition(n_part, "a")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(15):  # bound: diameter of the largest near-dup chain
        neighbor_min = (
            labels.join(edges, labels.node == edges.a)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_min", F.col("component")) < F.col("component")
                ).alias("moved"),
            )
            .localCheckpoint()  # eager: materializes the generation once
        )
        if labels.filter(F.col("moved")).count() == 0:
            break
    return docs.join(labels, "node", "left").select(
        F.col("node").cast("long").alias("doc_id"),
        F.coalesce("component", F.col("node")).cast("long").alias("canonical_id"),
        (F.coalesce("component", F.col("node")) == F.col("node")).alias("is_kept"),
    )


@query(
    "dedup-ngram-containment",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {sql_shingle_hashes_from_tokens('th')} AS sh FROM tokens
        )
        SELECT o.doc_id AS doc_id,
               round(CAST(len(list_intersect(o.sh, m.sh)) AS DOUBLE)
                     / len(list_distinct(o.sh)), 6) AS containment_in_orig,
               round(CAST(len(list_intersect(o.sh, m.sh)) AS DOUBLE)
                     / len(list_distinct(m.sh)), 6) AS containment_in_mut,
               (len(list_distinct(o.sh)) <= len(list_distinct(m.sh)))
                   AS orig_is_shorter
        FROM hashed o JOIN hashed m ON m.doc_id = o.doc_id + 1000000
        -- empty-shingle sides excluded on both engines (see
        -- dedup-ngram-jaccard)
        WHERE len(o.sh) > 0 AND len(m.sh) > 0
    """,
    doc="N-gram CONTAINMENT (|A intersect B| / |A|) between each doc and "
    "its planted mutation, in both directions — the asymmetric "
    "complement to Jaccard: when one text embeds another (quote, "
    "boilerplate wrapper, truncated copy), Jaccard dilutes with the "
    "length gap but containment of the shorter side stays ~1. Corpus "
    "dedup at 100 TB uses exactly this pair: LSH blocks candidates, "
    "then containment decides subset-style dups that Jaccard "
    "thresholds miss. Same codegen shingle-set machinery as "
    "dedup-ngram-jaccard.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = (
        shingle_hash_rows(_corpus(spark, sf_dir))
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("sh"))
        .persist()
    )
    o = hashed.alias("o")
    m = hashed.alias("m")
    inter = F.size(F.array_intersect(F.col("o.sh"), F.col("m.sh"))).cast("double")
    n_o = F.size(F.array_distinct(F.col("o.sh")))
    n_m = F.size(F.array_distinct(F.col("m.sh")))
    return o.join(m, F.col("m.doc_id") == F.col("o.doc_id") + 1000000).select(
        F.col("o.doc_id").alias("doc_id"),
        F.round(inter / n_o, 6).alias("containment_in_orig"),
        F.round(inter / n_m, 6).alias("containment_in_mut"),
        (n_o <= n_m).alias("orig_is_shorter"),
    )


def _lsh_tuning_config_sql(bands: int, rows: int) -> str:
    """One candidate-metrics row for a (bands, rows) LSH config."""
    return f"""
        SELECT '{bands}x{rows}' AS config,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN doc_b = doc_a + 1000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true,
               round(sum(CASE WHEN doc_b = doc_a + 1000000 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS precision,
               round(sum(CASE WHEN doc_b = doc_a + 1000000 THEN 1 ELSE 0 END)
                     / (SELECT CAST(count(*) AS DOUBLE) FROM documents), 6)
                   AS recall
        FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded_{bands}x{rows} a JOIN banded_{bands}x{rows} b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
    """


def _lsh_tuning_banded_sql(bands: int, rows: int) -> str:
    return f"""
        banded_{bands}x{rows} AS (
            SELECT doc_id,
                   unnest({sql_band_hashes(f"{sql_minhash_signature('sh', NUM_PERM)}", bands, rows)}) AS band_hash,
                   unnest(generate_series(1, {bands})) AS band_id
            FROM hashed
        )
    """


_TUNING_CONFIGS = [(6, 2), (4, 3)]


@query(
    "dedup-lsh-tuning",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {sql_shingle_hashes_from_tokens('th')} AS sh FROM tokens
        ),
        {','.join(_lsh_tuning_banded_sql(b, r) for b, r in _TUNING_CONFIGS)}
        {' UNION ALL '.join(_lsh_tuning_config_sql(b, r) for b, r in _TUNING_CONFIGS)}
    """,
    doc="LSH band-config tuning: the SAME 12-permutation signatures "
    "bucketed as 6 bands x 2 rows AND 4 bands x 3 rows, with measured "
    "candidate count, precision, and recall against the planted "
    "near-dup truth (every doc has a 2-token-truncated twin). The "
    "S-curve tradeoff made empirical: more/shorter bands -> higher "
    "collision probability at a given similarity (recall up, "
    "candidates and verify cost up); fewer/longer bands -> the "
    "opposite. At 100 TB this experiment runs on a sampled slice "
    "before committing the full corpus to one config — signatures are "
    "computed once, so adding a config costs only its band-bucket "
    "shuffle, never a re-shingle.",
)
def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_docs = load_table(spark, sf_dir, "documents").count()
    sh_rows = shingle_hash_rows(_corpus(spark, sf_dir))
    hashed = (
        sh_rows.groupBy("doc_id").agg(*signature_columns(NUM_PERM)).persist()
    )
    results = None
    for bands, rows in _TUNING_CONFIGS:
        banded = (
            hashed.select("doc_id", *band_hash_columns(bands, rows))
            .select(
                "doc_id",
                F.posexplode(
                    F.array(*[F.col(f"_band{b}") for b in range(bands)])
                ).alias("band_id0", "band_hash"),
            )
            .select("doc_id", (F.col("band_id0") + 1).alias("band_id"), "band_hash")
        )
        a, b = banded.alias("a"), banded.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        is_true = F.when(F.col("doc_b") == F.col("doc_a") + 1000000, 1).otherwise(0)
        row = cands.agg(
            F.count("*").alias("n_candidates"),
            F.sum(is_true).cast("long").alias("n_true"),
        ).select(
            F.lit(f"{bands}x{rows}").alias("config"),
            "n_candidates",
            "n_true",
            F.round(F.col("n_true") / F.col("n_candidates").cast("double"), 6).alias(
                "precision"
            ),
            F.round(F.col("n_true") / F.lit(float(n_docs)), 6).alias("recall"),
        )
        results = row if results is None else results.unionByName(row)
    return results


_EST_MATCH_SQL = " + ".join(
    f"CASE WHEN sig_a[{k + 1}] = sig_b[{k + 1}] THEN 1 ELSE 0 END"
    for k in range(NUM_PERM)
)


@query(
    "dedup-minhash-estimation-error",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {sql_shingle_hashes_from_tokens('th')} AS sh FROM tokens
        ),
        sigs AS (
            SELECT doc_id, sh,
                   {sql_minhash_signature('sh', NUM_PERM)} AS sig
            FROM hashed
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a,
                   a.sh AS sh_a, b.sh AS sh_b,
                   a.sig AS sig_a, b.sig AS sig_b
            FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 1000000
            -- empty-shingle sides have no signature: excluded on both
            -- engines (see dedup-minhash-signature)
            WHERE a.doc_id % 5 = 0
              AND len(a.sh) > 0 AND len(b.sh) > 0
        ),
        scored AS (
            SELECT doc_a,
                   CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                       / len(list_distinct(list_concat(sh_a, sh_b))) AS j_exact,
                   ({_EST_MATCH_SQL}) / {NUM_PERM}.0 AS j_est
            FROM pairs
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(j_exact), 6) AS avg_exact,
               round(avg(j_est), 6) AS avg_estimate,
               round(avg(abs(j_est - j_exact)), 6) AS mean_abs_err,
               round(max(abs(j_est - j_exact)), 6) AS max_abs_err
        FROM scored
    """,
    doc=f"MinHash estimator validation: for every 5th (original, "
    "mutated-twin) pair in the synthetic near-dup corpus, compare the "
    f"{NUM_PERM}-permutation signature agreement rate (the MinHash "
    "Jaccard estimate, E[match] = J) against the exact shingle-set "
    "Jaccard, reporting mean/max absolute error — the calibration "
    "check that justifies dedup-lsh-tuning's band math before "
    "trusting the estimator at corpus scale (expected se = "
    "sqrt(J(1-J)/k) ~ 0.14 at k=12, J=0.5; more permutations buy "
    "precision linearly in 1/k). Known-aligned pairs, so no LSH join "
    "is needed: the pairing is a key equi-join, signatures and "
    "shingle sets ride the same single groupBy as "
    "dedup-minhash-signature.",
)
def dedup_minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the join keeps only doc_a % 5 == 0 originals and their twins
    # (doc_b - 1000000) % 5 == 0; both predicates test divisibility by 5
    # of the ORIGINAL id (1000000 % 5 == 0), so filtering documents to
    # doc_id % 5 == 0 BEFORE shingling drops 4/5 of the explode +
    # 12-permutation signature work instead of discarding it after the
    # persisted aggregate (the persist boundary blocks the optimizer
    # from pushing the filter down itself). Output rows identical.
    sh_rows = shingle_hash_rows(
        _corpus(spark, sf_dir, doc_filter=F.col("doc_id") % 5 == 0)
    )
    # persist: both self-join sides consume hashed — unpersisted, the
    # whole explode/window/agg signature build ran twice (r11)
    hashed = sh_rows.groupBy("doc_id").agg(
        *signature_columns(NUM_PERM), F.collect_list("sh").alias("sh")
    ).persist()
    a = hashed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        *[F.col(f"_m{k}").alias(f"a_m{k}") for k in range(NUM_PERM)],
    ).filter(F.col("doc_a") % 5 == 0)
    b = hashed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        *[F.col(f"_m{k}").alias(f"b_m{k}") for k in range(NUM_PERM)],
    ).filter((F.col("doc_b") - 1000000) % 5 == 0)
    # the b-side filter is IMPLIED by the join: doc_b = doc_a + 1000000
    # and doc_a % 5 == 0 force (doc_b - 1000000) % 5 == 0 (subtracting
    # the same constant recovers doc_a exactly, so this holds under
    # either overflow semantics). It drops 4/5 of the signatures +
    # shingle arrays BEFORE the exchange/broadcast instead of after the
    # join (guide: shuffle fewer bytes) and changes no output row.
    pairs = a.join(b, b.doc_b == a.doc_a + 1000000)
    matches = sum(
        (F.col(f"a_m{k}") == F.col(f"b_m{k}")).cast("int") for k in range(NUM_PERM)
    )
    j_est = matches / float(NUM_PERM)
    j_exact = jaccard(F.col("sh_a"), F.col("sh_b"))
    scored = pairs.select(j_exact.alias("j_exact"), j_est.alias("j_est"))
    err = F.abs(F.col("j_est") - F.col("j_exact"))
    return scored.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("j_exact"), 6).alias("avg_exact"),
        F.round(F.avg("j_est"), 6).alias("avg_estimate"),
        F.round(F.avg(err), 6).alias("mean_abs_err"),
        F.round(F.max(err), 6).alias("max_abs_err"),
    )


@query(
    "dedup-span-coverage",
    oracle=f"""
        WITH hashed AS (
            SELECT doc_id,
                   {sql_shingle_hashes_from_tokens(sql_token_hashes('text'), 8)}
                       AS sh
            FROM documents
        ),
        exploded AS (
            SELECT doc_id, unnest(sh) AS h FROM hashed
        ),
        df AS (
            SELECT h, count(*) AS n_docs FROM exploded GROUP BY h
        )
        SELECT e.doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_spans,
               round(CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS dup_coverage
        FROM exploded e JOIN df ON e.h = df.h
        GROUP BY e.doc_id
        HAVING count(*) > 0
    """,
    doc="Cross-document duplicated-SPAN coverage (the n-gram "
    "approximation of ExactSubstr dedup, Lee et al. 2022): every "
    "distinct 8-token shingle per doc, a corpus-wide document-"
    "frequency pass, and per doc the fraction of its spans that "
    "also appear in ANOTHER document — the per-doc signal that "
    "separates 'contains a quoted paragraph' (low coverage) from "
    "'is a stitched copy' (high coverage), which document-level "
    "Jaccard flattens into one number. Shuffles carry 8-byte "
    "shingle hashes only (ids-only discipline of "
    "dedup-near-minhash); span df is bounded by distinct-shingle "
    "count, not corpus size. Docs under 8 tokens emit no spans and "
    "drop out, stated in the HAVING contract.",
    tags=("dedup",),
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.dedup import (
        shingle_hashes_from_tokens,
        token_hashes,
    )

    d = load_table(spark, sf_dir, "documents")
    # token hashes materialized in their OWN projection: inlining the
    # md5 transform into shingle_hashes_from_tokens re-evaluates it once
    # per slice reference (8 slices + size = 9x the md5 work; measured
    # 4.5 s -> 0.7 s for this explode at sf0.1). Catalyst's
    # CollapseProject keeps the split because the alias is referenced
    # more than once.
    # persist: the df pass AND the join probe both consume the exploded
    # spans — unpersisted, the md5 tokenization + shingle explode ran
    # twice (r11)
    exploded = (
        d.withColumn("th", token_hashes(F.col("text")))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(shingle_hashes_from_tokens(F.col("th"), 8))
            ).alias("h"),
        )
        .persist()
    )
    df_tab = exploded.groupBy("h").agg(F.count("*").alias("n_docs"))
    j = exploded.join(df_tab, "h")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.round(
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_coverage"),
        )
        .filter(F.col("n_spans") > 0)
    )


@query(
    "dedup-shingle-size-sweep",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tokens AS (
            SELECT doc_id, {sql_token_hashes('text')} AS th FROM corpus
        ),
        j2 AS (
            SELECT o.doc_id,
                   CAST(len(list_intersect(
                       {sql_shingle_hashes_from_tokens('o.th', 2)},
                       {sql_shingle_hashes_from_tokens('m.th', 2)})) AS DOUBLE)
                   / len(list_distinct(list_concat(
                       {sql_shingle_hashes_from_tokens('o.th', 2)},
                       {sql_shingle_hashes_from_tokens('m.th', 2)}))) AS j
            FROM tokens o JOIN tokens m ON m.doc_id = o.doc_id + 1000000
        ),
        j3 AS (
            SELECT o.doc_id,
                   CAST(len(list_intersect(
                       {sql_shingle_hashes_from_tokens('o.th', 3)},
                       {sql_shingle_hashes_from_tokens('m.th', 3)})) AS DOUBLE)
                   / len(list_distinct(list_concat(
                       {sql_shingle_hashes_from_tokens('o.th', 3)},
                       {sql_shingle_hashes_from_tokens('m.th', 3)}))) AS j
            FROM tokens o JOIN tokens m ON m.doc_id = o.doc_id + 1000000
        ),
        j5 AS (
            SELECT o.doc_id,
                   CAST(len(list_intersect(
                       {sql_shingle_hashes_from_tokens('o.th', 5)},
                       {sql_shingle_hashes_from_tokens('m.th', 5)})) AS DOUBLE)
                   / len(list_distinct(list_concat(
                       {sql_shingle_hashes_from_tokens('o.th', 5)},
                       {sql_shingle_hashes_from_tokens('m.th', 5)}))) AS j
            FROM tokens o JOIN tokens m ON m.doc_id = o.doc_id + 1000000
        )
        SELECT CAST(2 AS BIGINT) AS shingle_k,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(j), 6) AS mean_jaccard, round(min(j), 6) AS min_jaccard
        FROM j2
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT), round(avg(j), 6), round(min(j), 6)
        FROM j3
        UNION ALL
        SELECT 5, CAST(count(*) AS BIGINT), round(avg(j), 6), round(min(j), 6)
        FROM j5
    """,
    doc="Shingle-size sensitivity sweep for near-dup tuning: Jaccard "
    "of every planted (doc, truncated-mutation) pair at k = 2, 3, "
    "5 token shingles from ONE tokenization pass (token hashes "
    "computed once, shingle composition per k is pure array "
    "codegen on top). Larger k makes Jaccard steeper around small "
    "edits — mean and MINIMUM per k show exactly how much "
    "threshold headroom each size leaves, which is the decision "
    "dedup-lsh-tuning's band math takes as INPUT (that op fixes "
    "k and sweeps bands; this sweeps k). Equi-join on the planted "
    "pair id only — no candidate blowup.",
    tags=("dedup",),
)
def dedup_shingle_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from transit_scrape_spark.operators.dedup import (
        shingle_hashes_from_tokens,
        token_hashes,
    )

    corpus = _corpus(spark, sf_dir)
    tokens = corpus.select("doc_id", token_hashes(F.col("text")).alias("th"))
    o = tokens.select(F.col("doc_id").alias("oid"), F.col("th").alias("oth"))
    m = tokens.select(
        (F.col("doc_id") - 1000000).alias("mid"), F.col("th").alias("mth")
    ).filter(F.col("mid") >= 0)
    pairs = o.join(m, F.col("oid") == F.col("mid"))
    # ONE pass over the join computes the per-k jaccards as sibling
    # columns and aggregates them in a single action; the previous
    # one-agg-per-k union re-ran the scan + token hashing + join 3x
    # (r11). The 3-row output shape is rebuilt by exploding the 1-row
    # aggregate (arrays stay internal — top-level schema is scalar).
    jcols = []
    for k in (2, 3, 5):
        a = F.array_distinct(shingle_hashes_from_tokens(F.col("oth"), k))
        b = F.array_distinct(shingle_hashes_from_tokens(F.col("mth"), k))
        # try_divide: a doc with < k tokens (empty/whitespace hostile text)
        # has an empty shingle set on both sides -> 0/0 -> NULL, which
        # avg/min skip identically on both engines.
        jcols.append(
            F.try_divide(
                F.size(F.array_intersect(a, b)).cast("double"),
                F.size(F.array_union(a, b)),
            ).alias(f"_j{k}")
        )
    row = pairs.select(*jcols).agg(
        F.count("*").cast("long").alias("_n"),
        *[
            agg
            for k in (2, 3, 5)
            for agg in (
                F.round(F.avg(f"_j{k}"), 6).alias(f"_mean{k}"),
                F.round(F.min(f"_j{k}"), 6).alias(f"_min{k}"),
            )
        ],
    )
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("shingle_k"),
                        F.col("_n").alias("n_pairs"),
                        F.col(f"_mean{k}").alias("mean_jaccard"),
                        F.col(f"_min{k}").alias("min_jaccard"),
                    )
                    for k in (2, 3, 5)
                ]
            )
        ).alias("_r")
    ).select("_r.*")


@query(
    "dedup-weighted-jaccard",
    oracle=f"""
        WITH corpus AS ({_CORPUS_SQL}),
        tf AS (
            SELECT doc_id % 1000000 AS pair_key,
                   CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END AS is_mut,
                   token, CAST(count(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM corpus) t
            GROUP BY 1, 2, token
        ),
        merged AS (
            SELECT pair_key, token,
                   sum(CASE WHEN is_mut = 0 THEN tf ELSE 0 END) AS tf_o,
                   sum(CASE WHEN is_mut = 1 THEN tf ELSE 0 END) AS tf_m
            FROM tf GROUP BY pair_key, token
        )
        SELECT pair_key AS doc_id,
               CAST(count(*) AS BIGINT) AS n_union_tokens,
               round(sum(least(tf_o, tf_m)) / sum(greatest(tf_o, tf_m)), 6)
                   AS weighted_jaccard
        FROM merged GROUP BY pair_key
    """,
    doc="Weighted (multiset/bag) Jaccard between each document and its "
    "planted near-dup: J_w = sum_t min(tf_a, tf_b) / "
    "sum_t max(tf_a, tf_b) over TERM FREQUENCIES — the similarity "
    "set-based shingle Jaccard (dedup-ngram-jaccard) overstates for "
    "repetitive text, where a doc that repeats one paragraph 10x and "
    "its single-copy source share every shingle TYPE but only ~10%% "
    "of the mass. Boilerplate/spam dedup wants the weighted form. "
    "No pair join at all: pair_key = doc_id %% 1000000 re-keys both "
    "sides into ONE groupBy chain (token tf -> per-pair min/max "
    "ratio) — at 100 TB this is two hash-aggs keyed by "
    "(pair, token), embarrassingly parallel, zero skew joins.",
    tags=("dedup",),
)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        _corpus(spark, sf_dir)
        .select(
            (F.col("doc_id") % 1000000).alias("pair_key"),
            (F.col("doc_id") >= 1000000).cast("int").alias("is_mut"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .groupBy("pair_key", "is_mut", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    merged = tf.groupBy("pair_key", "token").agg(
        F.sum(
            F.when(F.col("is_mut") == 0, F.col("tf")).otherwise(0.0)
        ).alias("tf_o"),
        F.sum(
            F.when(F.col("is_mut") == 1, F.col("tf")).otherwise(0.0)
        ).alias("tf_m"),
    )
    return merged.groupBy(F.col("pair_key").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_union_tokens"),
        F.round(
            F.sum(F.least("tf_o", "tf_m"))
            / F.sum(F.greatest("tf_o", "tf_m")),
            6,
        ).alias("weighted_jaccard"),
    )
