"""Near-duplicate detection operators (SURVEY.md §2.12 north star).

Everything is built from deterministic integer hash math expressible as
built-in Column expressions, so the whole MinHash/SimHash pipeline is
(a) whole-stage-codegen'd JVM-side — no Python in the hot path — and
(b) bit-for-bit reproducible in ANSI SQL, which is what lets the driver
oracle an op that is normally 'too custom to check'.

Scale design:
- shingling/hashing is a projection (no shuffle);
- LSH banding turns the O(n^2) pair space into groupBy(band_hash)
  buckets — one shuffle keyed on (band_id, band_hash);
- candidate pairs come from within one band bucket (the pairs of each
  groupBy bucket's members, or an equi-join on band keys), never a cross
  join; exact Jaccard verification runs only on candidates.

Hash family: polynomial char hash mod P (P = 2^31-1), then K universal
hashes (a_k*h + b_k) mod P. All intermediates < 2^62, safe in BIGINT.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 2147483647  # 2^31 - 1
TOKEN_SPLIT = " "


def hash_params(k: int) -> tuple[int, int]:
    """Deterministic universal-hash coefficients for permutation k."""
    a = (2654435761 * (k + 1)) % P
    b = (40503 * (k + 7) + 17) % P
    return (a or 1), b


def string_hash(s: Column) -> Column:
    """String -> 48-bit integer hash, identical across engines: first 12
    hex chars of md5, parsed base-16, mod P.

    WHY md5 and not a char-fold: Spark evaluates higher-order-function
    lambdas INTERPRETED (no whole-stage codegen), so a per-char
    aggregate costs ~µs/char; md5+conv are native codegen'd expressions
    (~20x faster at token granularity) and DuckDB computes the same
    digest ('0x'||hex cast mirror), keeping the oracle bit-exact.
    """
    return (
        F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long") % P
    )


def sql_string_hash(s: str) -> str:
    return f"CAST(('0x' || substring(md5({s}), 1, 12)) AS BIGINT) % {P}"


SHINGLE_MULT = 1000003


def token_hashes(text: Column) -> Column:
    """Per-token hashes (md5-based, codegen'd)."""
    return F.transform(F.split(text, TOKEN_SPLIT), lambda t: string_hash(t))


def shingle_hashes_from_tokens(th: Column, k: int = 3) -> Column:
    """k-shingle hashes composed from token hashes:
    fold (h*SHINGLE_MULT + th[i+j]) % P over the k tokens of each
    shingle, built as zip_with over k shifted slices.

    WHY slices + zip_with (not transform + element_at): interpreted HOF
    evaluation re-computes the `th` argument expression on every
    element_at access — O(shingles * k) full-array rebuilds. Slicing
    references the array O(k) times per ROW, then zip_with walks the
    slices elementwise.
    """
    n = F.greatest(F.size(th) - (k - 1), F.lit(0))
    acc = F.slice(th, 1, n)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(th, j + 1, n), lambda h, t: (h * SHINGLE_MULT + t) % P
        )
    return acc


def jaccard(sa: Column, sb: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    return F.size(F.array_intersect(sa, sb)).cast("double") / F.size(
        F.array_union(sa, sb)
    )


# --- codegen (explode/window/groupBy) formulation -------------------------
#
# Spark evaluates HOF lambdas interpreted; for the hash-heavy dedup
# pipeline the row-relational formulation below stays inside whole-stage
# codegen end to end and is several times faster at scale. Values are
# IDENTICAL to the ``sql_*`` mirrors at the end of this module (same fold
# constants), so the DuckDB oracles hold.

def shingle_hash_rows(corpus):
    """corpus[doc_id, text] -> distinct rows (doc_id, sh): one row per
    distinct 3-token shingle hash. explode -> per-token md5 hash (codegen)
    -> window lead() to fold the 3-gram -> distinct. One shuffle on
    doc_id (the window sort); the groupBys layered on top reuse that
    partitioning.

    ``doc_id`` must identify the document: duplicate rows (re-crawled
    copies) are collapsed to one before the window, because the
    per-token lead() fold interleaves tied positions from multiple
    copies into phantom shingles otherwise (caught by the
    duplicate-hostile parity sweep)."""
    from pyspark.sql.window import Window

    corpus = corpus.dropDuplicates(["doc_id"])
    tok = corpus.select(
        "doc_id", F.posexplode(F.split("text", TOKEN_SPLIT)).alias("_i", "_t")
    ).select("doc_id", "_i", string_hash(F.col("_t")).alias("_h"))
    w = Window.partitionBy("doc_id").orderBy("_i")
    folded = F.col("_h")
    for j in (1, 2):
        folded = (folded * SHINGLE_MULT + F.lead("_h", j).over(w)) % P
    return (
        tok.select("doc_id", folded.alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )


def signature_columns(num_perm: int = 12):
    """Aggregate expressions: min((a_k*sh + b_k) % P) per permutation —
    plain codegen'd aggs over shingle rows."""
    cols = []
    for kk in range(num_perm):
        a, b = hash_params(kk)
        cols.append(F.min((F.col("sh") * a + b) % P).alias(f"_m{kk}"))
    return cols


def band_hash_columns(bands: int, rows: int):
    """Band-bucket hashes folded directly from the _m{k} signature
    columns — column arithmetic, no arrays."""
    out = []
    for b in range(bands):
        h = F.lit(0).cast("long")
        for r in range(rows):
            h = (h * 1000003 + F.col(f"_m{b * rows + r}")) % P
        out.append(h.alias(f"_band{b}"))
    return out


def simhash_columns(bits: int = 16):
    """SimHash via per-token rows: 16 codegen'd conditional sums, then
    the bit assembly; use over groupBy(id) of token-hash rows."""
    sums = [
        F.sum(((F.col("_h") / (1 << j)).cast("long") % 2) * 2 - 1).alias(f"_b{j}")
        for j in range(bits)
    ]
    return sums


def simhash_assemble(bits: int = 16):
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.col(f"_b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return out


# --- SQL mirrors (oracle side) --------------------------------------------

def sql_token_hashes(text: str) -> str:
    return f"list_transform(string_split({text}, ' '), t -> {sql_string_hash('t')})"


def sql_shingle_hashes_from_tokens(th: str, k: int = 3) -> str:
    h = "CAST(0 AS BIGINT)"
    for j in range(k):
        h = f"(({h}) * {SHINGLE_MULT} + {th}[i + {j}]) % {P}"
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({th}) - {k - 1}, 0)), i -> {h}))"
    )


def sql_shingle_hashes(text: str, k: int = 3) -> str:
    return sql_shingle_hashes_from_tokens(sql_token_hashes(text), k)


def sql_minhash_signature(hashes: str, num_perm: int = 12) -> str:
    parts = []
    for kk in range(num_perm):
        a, b = hash_params(kk)
        parts.append(f"list_min(list_transform({hashes}, h -> (h * {a} + {b}) % {P}))")
    return "[" + ", ".join(parts) + "]"


def sql_band_hashes(sig: str, bands: int, rows: int) -> str:
    out = []
    for b in range(bands):
        h = "CAST(0 AS BIGINT)"
        for r in range(rows):
            h = f"(({h}) * 1000003 + {sig}[{b * rows + r + 1}]) % {P}"
        out.append(h)
    return "[" + ", ".join(out) + "]"


def sql_simhash(token_hashes: str, bits: int = 16) -> str:
    terms = []
    for j in range(bits):
        pw = 1 << j
        bit_sum = (
            f"list_sum(list_transform({token_hashes}, "
            f"h -> (CAST(floor(h / {pw}) AS BIGINT) % 2) * 2 - 1))"
        )
        terms.append(f"CASE WHEN {bit_sum} > 0 THEN {pw} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
