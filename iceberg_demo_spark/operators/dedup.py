"""Deduplication operators over `documents` — exact, n-gram Jaccard,
MinHash+LSH, SimHash (BASELINE.json north-star surface).

Scale design:
- Exact dedup is a single hash-shuffle on a 16-byte digest (not the full
  text) — at 100 TB the shuffle carries digests + doc ids only.
- N-gram Jaccard explodes *distinct* shingles and self-joins on the shingle
  key; at scale the join key space is huge so the shuffle distributes well,
  and frequent-shingle skew is the known hazard (mitigated by dropping
  ubiquitous shingles — the `max_df` filter below — exactly as MinHash-LSH
  implementations do).
- MinHash-LSH reduces pairwise comparison to band-bucket joins: candidates
  ∝ true pairs, not n². The base hash is an md5 hex prefix — a JVM built-in
  (zero Python in the hot path) that DuckDB computes bit-identically, so
  the whole signature → band → candidate → estimate pipeline is
  oracle-checked end to end, not just rows-counted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_demo_spark.registry import query
from iceberg_demo_spark.cache import (
    pin as _pin,
    pin_checkpoint as _pin_ckpt,
    pin_checkpoint_lazy as _pin_ckpt_lazy,
)
from iceberg_demo_spark.sources import load_tables
from iceberg_demo_spark.operators.text import tokens_col

# ---------------------------------------------------------------------------
# Exact dedup: content-hash groupBy; keeper = min(doc_id)
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT md5(text) AS content_hash, doc_id FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT content_hash) AS n_unique,
           COUNT(*) - COUNT(DISTINCT content_hash) AS n_duplicates,
           MIN(doc_id) AS first_doc
    FROM hashed
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    hashed = t["documents"].select(F.md5("text").alias("content_hash"), "doc_id")
    return hashed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("content_hash").alias("n_unique"),
        (F.count("*") - F.countDistinct("content_hash")).alias("n_duplicates"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "dedup_exact_keepers",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 0
    ORDER BY keep_id
    LIMIT 50
    """,
)
def dedup_exact_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Word-shingle helpers (shared by Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------

def shingles_col(n: int = 3):
    """Distinct word n-gram shingles of the text column, as array<string>."""
    toks = tokens_col()
    count = F.size(toks) - (n - 1)
    # Guard: Spark's sequence(1, 0) counts *down*; emit an empty array for
    # short texts instead (DuckDB's range(1, 0) is empty — keep parity).
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams)


_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1), "
    "i -> array_to_string(list_slice(string_split(text,' '), i, i + 2), ' ')))"
)

#: shared oracle pipeline shingles -> sizes -> co-shingle counts -> the
#: >= 0.2 Jaccard pair set WITH the rounded jaccard value. Three gates
#: nest this (exact pairs, clusters, survivorship) — one copy, so a
#: threshold or shingle change can never silently desynchronize them.
_PAIRS_SQL = f"""sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT id_a, id_b,
             ROUND(1.0 * n_common / (sa.n_sh + sb.n_sh - n_common), 4)
               AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 1.0 * n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    )"""


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs (exact, SQL-expressible oracle)
# ---------------------------------------------------------------------------

@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_PAIRS_SQL}
    SELECT id_a, id_b, jaccard FROM pairs
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    sh = t["documents"].select(
        "doc_id", F.explode(shingles_col()).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.lit(1.0) * F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= 0.2)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (rows-only check: xxhash64 not portable to DuckDB)
# ---------------------------------------------------------------------------

#: 32 permutations in 8 bands of 4 rows — standard S-curve for j≈0.5 cutover.
_N_PERM = 32
_BAND_SIZE = 4

# Mersenne prime 2^31-1 for the universal-hash family h_i(x) = (a_i*x + b_i)
# mod p — small enough that a_i*h never overflows a long under ANSI mode.
_PRIME = (1 << 31) - 1


def _portable_hash(col) -> Column:
    """60-bit integer from the md5 hex prefix — bit-identical in DuckDB
    (``('0x' || substr(md5(x),1,15))::UBIGINT``), which is what makes the
    MinHash/SimHash gates oracle-checkable instead of rows-only."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures(docs: DataFrame, n_perm: int = _N_PERM) -> DataFrame:
    """(doc_id, sig: array<bigint>) MinHash signatures, built-ins only.

    Shape chosen for scale: explode distinct shingles → ONE portable hash
    per shingle → the n_perm permutations (a_i*h + b_i) mod p as columns →
    ``groupBy(doc_id).agg(min...)``. The mins combine map-side (partial agg),
    so the shuffle carries just n_perm longs per doc. The earlier
    array-expression formulation recomputed the shingle array once per
    permutation (higher-order fns are interpreted, no codegen CSE) and was
    ~30× slower.

    Docs with no shingles (short texts) yield no pairs either way and drop out
    at the explode, matching the pairwise semantics.
    """
    sh = docs.select("doc_id", F.explode(shingles_col()).alias("s"))
    h = _portable_hash(F.col("s")) % _PRIME
    permed = sh.select(
        "doc_id",
        *[
            ((h * F.lit(2 * i + 3) + F.lit(i * i + 1)) % _PRIME).alias(f"p{i}")
            for i in range(n_perm)
        ],
    )
    mins = permed.groupBy("doc_id").agg(
        *[F.min(f"p{i}").alias(f"p{i}") for i in range(n_perm)]
    )
    return mins.select(
        "doc_id", F.array(*[f"p{i}" for i in range(n_perm)]).alias("sig")
    )


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS s FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT)
               % 2147483647 AS h
      FROM sh
    ), perms AS (
      SELECT doc_id, i, MIN((h * (2*i + 3) + i*i + 1) % 2147483647) AS m
      FROM h CROSS JOIN range(0, 32) r(i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id, list(m ORDER BY i) AS sig FROM perms GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, b, list_slice(sig, b*4 + 1, b*4 + 4) AS key
      FROM sig CROSS JOIN range(0, 8) rb(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    ), est AS (
      SELECT id_a, id_b,
             1.0 * len(list_filter(list_zip(sa.sig, sb.sig),
                                   p -> p[1] = p[2])) / 32 AS ej
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, ROUND(ej, 4) AS est_jaccard
    FROM est WHERE ej >= 0.2
    ORDER BY id_a, id_b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, verified by signature
    similarity. Fully oracle-checked: the md5-prefix base hash is
    bit-identical in DuckDB, so the oracle replays signatures, banding,
    candidate generation and the similarity estimate. (Band-bucket join on
    xxhash64 of the band slice Spark-side ≡ joining on the slice itself —
    bucket collisions can only add candidates whose estimate then fails the
    ≥0.2 filter.) Pytest additionally cross-checks recall vs exact Jaccard
    (tests/test_dedup.py)."""
    t = load_tables(spark, sf_dir, ("documents",))
    # Reused three times (band build + both join sides); persist so the
    # signature shuffle runs once. At cluster scale this would be a
    # checkpoint/intermediate table instead of executor memory.
    docs = minhash_signatures(t["documents"].select("doc_id", "text")).transform(_pin)
    n_bands = _N_PERM // _BAND_SIZE
    # band key = (band_idx, hash of that band's slice of the signature).
    # Narrow projection (doc_id, band, bucket) — the equi-join shuffles 3
    # longs per row; signatures are re-attached only to surviving candidates.
    bands = docs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * _BAND_SIZE + j + 1)
                                    for j in range(_BAND_SIZE)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = docs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = docs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est_jac = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(_N_PERM)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est_jac, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.2)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup (rows-only)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: bigint) 64-bit SimHash of the token multiset.

    Per token: a 64-bit hash read as the md5 hex digest's nibbles (bit b =
    bit b%4 of hex char b//4 — engine-portable, so the gate is
    oracle-checkable) → for each bit position, +1 if set else -1; sum over
    tokens; bit b of the simhash = 1 iff the sum is positive. Same
    explode→wide-columns→groupBy shape as MinHash: one md5 per token
    (codegen CSEs the digest across the 64 votes), 64 cheap bit-vote
    columns, map-side partial SUM — the shuffle carries 64 ints per doc.
    Token-less docs keep simhash 0 via explode_outer (matching the
    fold-over-empty-array semantics).
    """
    tok = docs.select("doc_id", F.explode_outer(tokens_col()).alias("t"))
    digest = F.md5("t")

    def bit(b: int) -> Column:
        nib = F.conv(F.substring(digest, 1 + b // 4, 1), 16, 10).cast("int")
        return F.shiftright(nib, b % 4).bitwiseAND(F.lit(1))

    votes = tok.select(
        "doc_id",
        *[
            F.when(F.col("t").isNull(), F.lit(0))
            .when(bit(b) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias(f"v{b}")
            for b in range(_SIMHASH_BITS)
        ],
    )
    sums = votes.groupBy("doc_id").agg(
        *[F.sum(f"v{b}").alias(f"v{b}") for b in range(_SIMHASH_BITS)]
    )
    out = F.lit(0).cast("bigint")
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        out = out + F.shiftleft(bit, b)
    return sums.select("doc_id", out.alias("sh"))


@query(
    "dedup_simhash_hamming_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), votes AS (
      SELECT doc_id, b.b,
             SUM(CASE WHEN
                   (CAST(('0x' || substr(md5(t), 1 + b.b // 4, 1))::UBIGINT
                         AS BIGINT) >> (b.b % 4)) & 1 = 1
                 THEN 1 ELSE -1 END) AS v
      FROM tok CROSS JOIN range(0, 64) b(b)
      GROUP BY doc_id, b.b
    ), bits AS (
      SELECT doc_id,
             list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
      FROM votes GROUP BY doc_id
    ), allbits AS (
      -- docs with no rows in votes cannot occur (split('') = ['']), but
      -- keep the join total over documents for safety
      SELECT d.doc_id, COALESCE(bits, list_transform(range(64), x -> 0)) AS bits
      FROM documents d LEFT JOIN bits ON bits.doc_id = d.doc_id
    ), chunks AS (
      SELECT doc_id, bits, c.c AS chunk,
             list_slice(bits, c.c*16 + 1, c.c*16 + 16) AS key
      FROM allbits CROSS JOIN range(0, 4) c(c)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.bits AS ba, b.bits AS bb
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_filter(list_zip(ba, bb), p -> p[1] <> p[2])) AS hamming
    FROM cand
    WHERE len(list_filter(list_zip(ba, bb), p -> p[1] <> p[2])) <= 16
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with SimHash Hamming distance <= 16, bucketed by the 16-bit
    chunks to avoid the full n² comparison (same block-key trick production
    SimHash dedup uses). Fully oracle-checked — the oracle replays the
    md5-nibble bit votes, chunk blocking and Hamming filter on bit lists
    (single-bigint packing would overflow BIGINT at bit 63)."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = simhash_signatures(t["documents"].select("doc_id", "text")).transform(_pin)
    # Block on each of 4 16-bit chunks: near-identical docs agree on ≥1 chunk
    # when hamming ≤ 16 is concentrated; a standard recall/cost tradeoff.
    chunks = docs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sh", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "sh", "ck.chunk", "ck.key")
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= 16)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: semantic duplicates via the embeddings table
# ---------------------------------------------------------------------------

#: Synthetic-corpus near-dup threshold (99.95th percentile of the pair-sim
#: distribution; real pipelines use ~0.95 on well-trained embeddings).
_COS_DUP_THRESHOLD = 0.40


def embedding_near_dups(emb: DataFrame, threshold: float = _COS_DUP_THRESHOLD,
                        rows_per_block: int = 8192,
                        group_col: str | None = None) -> DataFrame:
    """(id_dup, id_keep, sim): rows whose embedding has cosine >= threshold
    with a lower-id vector; keeper = the smallest such neighbor id. EXACT
    all-pairs (this is the oracle-gated semantic dedup; the approximate
    scale-out family is sim_ann_lsh_topk / sim_ann_ivf_topk).

    Shape: blocked all-pairs. The corpus hashes into B ≈ n/rows_per_block
    blocks; each row is replicated to the B block-pair groups (i,j), i<=j,
    it participates in; one ``applyInPandas`` task per group computes the
    block-i × block-j similarities as ONE BLAS matrix multiply. A
    pair-expression formulation (self-join + per-pair array fold) is ~25×
    slower at 2k vectors: the join materializes n²·dim array copies and
    higher-order lambdas don't codegen.

    Scale: per-task memory is bounded by 2·rows_per_block vectors
    (~2·8Ki·64dim·8B ≈ 8 MB; still ~128 MB at dim 1024) regardless of
    corpus size — no driver collect, no broadcast of the corpus. Shuffle
    volume is n·B rows; the quadratic block-pair count is the irreducible
    cost of EXACT all-pairs and parallelizes across B·(B+1)/2 independent
    tasks. Past ~10⁶ vectors exact all-pairs is the wrong tool regardless
    of engine — use the LSH/IVF candidate generators (similarity.py).

    With ``group_col`` the same blocked kernel runs WITHIN each group
    (semantic dedup's cluster restriction): block counts derive from
    per-group sizes (one tiny broadcast frame), the shuffle key becomes
    (group, i, j), and per-task memory stays bounded by 2·rows_per_block
    vectors even when one cluster holds millions of rows — the output
    gains the group column."""
    import numpy as np
    import pandas as pd

    gcols = [group_col] if group_col else []
    if group_col:
        sizes = emb.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
        w = emb.join(F.broadcast(sizes), group_col)
    else:
        n = emb.count()
        w = emb.withColumn("_n", F.lit(n))
    # every (i,j) block pair with i<=j, exactly once per row: for this
    # row's block b, pair with x>=b as (b,x) and x<b as (x,b)
    w = (w.withColumn("_nb", F.greatest(
            F.lit(1), F.ceil(F.col("_n") / rows_per_block)))
         .withColumn("_b", F.pmod(F.crc32(F.col("vec_id").cast("string")),
                                  F.col("_nb"))))
    g = w.withColumn(
        "_g",
        F.explode(F.expr(
            "transform(sequence(0, _nb - 1), x -> "
            "CASE WHEN x >= _b THEN struct(_b AS i, x AS j) "
            "ELSE struct(x AS i, _b AS j) END)")))

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = int(pdf["_i"].iloc[0]), int(pdf["_j"].iloc[0])
        left = pdf[pdf["_b"] == i]
        right = pdf[pdf["_b"] == j]
        empty = {"id_dup": pd.Series(dtype="int64"),
                 "id_keep": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")}
        if group_col:
            empty[group_col] = pd.Series(dtype="int64")
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(empty)
        L = np.stack(left["v"].values).astype(np.float64)
        R = np.stack(right["v"].values).astype(np.float64)
        L /= np.linalg.norm(L, axis=1, keepdims=True)
        R /= np.linalg.norm(R, axis=1, keepdims=True)
        sims = L @ R.T  # (|block i| × |block j|) in one BLAS call
        lid = left["vec_id"].values.astype(np.int64)
        rid = right["vec_id"].values.astype(np.int64)
        mask = sims >= threshold
        if i == j:
            # L is R: strict < drops the diagonal and the mirrored half,
            # leaving each unordered pair exactly once
            mask &= lid[:, None] < rid[None, :]
        li, ri = np.nonzero(mask)
        a, b = lid[li], rid[ri]
        out = {"id_dup": np.maximum(a, b),
               "id_keep": np.minimum(a, b),
               "sim": sims[li, ri]}
        if group_col:
            out[group_col] = np.full(len(li), pdf[group_col].iloc[0])
        return pd.DataFrame(out)

    schema = "id_dup bigint, id_keep bigint, sim double" + (
        f", {group_col} bigint" if group_col else "")
    pairs = (
        g.select(*gcols, "vec_id", "v", "_b",
                 F.col("_g.i").alias("_i"), F.col("_g.j").alias("_j"))
        .groupBy(*gcols, "_i", "_j")
        .applyInPandas(block_pair, schema)
    )
    keepers = pairs.groupBy("id_dup").agg(F.min("id_keep").alias("id_keep"))
    return keepers.join(pairs, ["id_dup", "id_keep"]).select(
        "id_dup", "id_keep", *gcols, F.round("sim", 4).alias("sim")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                x -> x / sqrt(list_reduce(list_transform(embedding::DOUBLE[], y -> y*y),
                                          (a, b) -> a + b))) AS u
      FROM embeddings
    ), p AS (
      SELECT b.vec_id AS id_dup, a.vec_id AS id_keep,
             list_reduce(list_transform(list_zip(a.u, b.u), q -> q[1] * q[2]),
                         (x, y) -> x + y) AS sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    ), f AS (
      SELECT * FROM p WHERE sim >= 0.40
    ), k AS (
      SELECT id_dup, MIN(id_keep) AS id_keep FROM f GROUP BY id_dup
    )
    SELECT k.id_dup AS id_dup, k.id_keep AS id_keep, ROUND(f.sim, 4) AS sim
    FROM k JOIN f ON k.id_dup = f.id_dup AND k.id_keep = f.id_keep
    ORDER BY id_dup
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection over the full corpus: a row
    is a duplicate if some lower-id vector is within the cosine threshold;
    the keeper is the smallest such id (north-star dedup family)."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return embedding_near_dups(emb).orderBy("id_dup")


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the dup-pair graph
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, cluster_root) for every node in ``edges(id_a, id_b)``: min-label
    propagation until fixpoint — the iterative-DataFrame-algorithm shape
    (each round = one shuffle join; rounds ≈ graph diameter, which for
    near-dup clusters is tiny). Each iteration materializes through persist
    so the plan lineage stays bounded."""
    swapped = edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    bidir = edges.select("id_a", "id_b").union(swapped).transform(_pin)
    # measured-size gate (the integer_pagerank discipline): when the
    # bidirectional edge frame provably fits one task, collapse it and
    # the label frame to a single partition — every iteration's joins,
    # aggregate and convergence count then plan with ZERO exchanges
    # (SinglePartition satisfies every clustered distribution); a graph
    # that outgrows the threshold keeps the distributed shape untouched;
    # with broadcasting off (threshold 0) the edges are never counted
    from iceberg_demo_spark.cache import broadcast_threshold_bytes
    threshold = broadcast_threshold_bytes(edges.sparkSession)
    small = threshold > 0 and 0 < bidir.count() * 64 <= threshold
    if small:
        bidir = bidir.coalesce(1)
    labels = (
        bidir.select(F.col("id_a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .transform(_pin)
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            bidir.join(labels, bidir["id_b"] == labels["id"])
            .groupBy(bidir["id_a"].alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select("id", F.least("label", F.coalesce("nmin", "label")).alias("label"))
            .transform(_pin)
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label")).count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    bidir.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "iterations — labels would be silently wrong; raise max_iter "
            "(rounds needed ≈ graph diameter)")
    return labels.select("id", F.col("label").alias("cluster_root"))


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    -- MATERIALIZED: the recursive closure references bidir every
    -- iteration; DuckDB inlines plain CTEs, which would re-run the
    -- whole shingle pipeline per iteration
    bidir AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, b FROM bidir
      UNION
      SELECT r.src, e.b FROM reach r JOIN bidir e ON r.dst = e.a
    ), lbl AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_root
      FROM reach GROUP BY src
    )
    SELECT l.doc_id AS doc_id, l.cluster_root AS cluster_root,
           c.n AS cluster_size
    FROM lbl l
    JOIN (SELECT cluster_root, COUNT(*) AS n FROM lbl GROUP BY cluster_root) c
      ON c.cluster_root = l.cluster_root
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (not just pairs): connected components over
    the n-gram-Jaccard dup graph, labeled by the minimum doc id. Spark runs
    iterative min-label propagation; the oracle computes the identical
    transitive closure with a recursive CTE — dedup keeper policies act per
    cluster, the final north-star dedup stage."""
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_root").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_root")
        .select(F.col("id").alias("doc_id"), "cluster_root", "cluster_size")
        .orderBy("doc_id")
    )


@query(
    "doc_chunk_dedup",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, n_chars + 1, 64)) AS s
      FROM documents
    ), ch AS (
      SELECT doc_id, md5(substr(text, s::INT, 64)) AS chunk_hash
      FROM pos
      WHERE length(substr(text, s::INT, 64)) = 64
    )
    SELECT chunk_hash, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM ch
    GROUP BY chunk_hash
    HAVING COUNT(*) > 1
    ORDER BY n_occurrences DESC, chunk_hash
    LIMIT 20
    """,
)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunk-level duplicate detection (round 6): every
    64-char window at stride 64 is hashed, and chunks appearing more than
    once — boilerplate, repeated spans, templated text — surface with
    their occurrence and document counts. The md5 base hash is the
    repo-standard cross-engine-exact digest.

    Scale shape: chunking is a pure map (explode of an arithmetic
    sequence — no data-dependent blow-up: chunks ∝ corpus bytes / 64);
    the groupBy shuffles 16-byte digests with map-side partial counts,
    never text. At 100 TB this is the cheap first pass that catches
    exact boilerplate before MinHash handles near-duplicates
    (dedup.py:175)."""
    t = load_tables(spark, sf_dir, ("documents",))
    chunks = (
        t["documents"]
        .select("doc_id",
                F.explode(F.expr("sequence(1, n_chars, 64)")).alias("s"),
                "text")
        .select("doc_id",
                F.expr("substring(text, s, 64)").alias("chunk"))
        .filter(F.length("chunk") == 64)
        .select("doc_id", F.md5("chunk").alias("chunk_hash"))
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("n_occurrences"),
             F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_occurrences") > 1)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
        .limit(20)
    )


@query(
    "doc_dup_span_coverage",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, n_chars, text,
             unnest(range(1, n_chars - 62, 32)) AS s
      FROM documents
      WHERE n_chars >= 64
    ), h AS (
      SELECT doc_id, source, n_chars,
             md5(substr(text, s::INT, 64)) AS wh,
             (s - 1) // 32 AS b
      FROM w
    ), dup AS (
      SELECT wh FROM h GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    ), blk AS (
      SELECT DISTINCT doc_id, source, n_chars, h.b + t.off AS blk
      FROM h JOIN dup USING (wh), unnest([0, 1]) AS t(off)
    ), perdoc AS (
      SELECT doc_id, source, n_chars, 32 * COUNT(*) AS covered
      FROM blk GROUP BY doc_id, source, n_chars
    )
    SELECT source,
           COUNT(*) AS docs_flagged,
           CAST(SUM(covered) AS BIGINT) AS total_covered_chars,
           CAST(MAX(covered * 10000 // n_chars) AS BIGINT)
             AS max_coverage_bps,
           CAST(SUM(covered * 10000 // n_chars) AS BIGINT)
             AS sum_coverage_bps
    FROM perdoc GROUP BY source ORDER BY source
    """,
)
def doc_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage accounting (ExactSubstr-style dedup audit,
    Lee et al. 2022 'Deduplicating Training Data Makes Language Models
    Better'): overlapping 64-char windows at stride 32 are hashed; a
    window is a cross-document duplicate when its digest appears in >= 2
    distinct documents; per document, the union of duplicated windows'
    32-char-aligned blocks measures the fraction of its characters that
    substring-level dedup would cut. Aggregated per source as integer
    basis points — the number a pipeline owner reads before deciding
    whether a source needs span-level (not just doc-level) dedup.

    Contrast with doc_chunk_dedup (dedup.py:709): that gate ranks
    boilerplate chunks at stride 64 (no overlap, global top-20); this one
    measures per-document COVERAGE, where overlap matters (a span that
    straddles a stride-64 boundary is still caught by the stride-32
    grid) and the window->2-aligned-blocks mapping (start ≡ 1 mod 32,
    length 64 = 2 blocks) makes the covered-character union an exact
    distinct-count — no interval-merge pass, no per-doc text collect.

    Scale shape: the window explode is a pure map ∝ corpus bytes / 32;
    all shuffles carry digests + ints, never text. Digest frequency is
    a map-side-combined groupBy; the occurrence->dup-set join shuffles
    on the digest (at 100 TB the dup set is itself huge — never
    broadcast); the block distinct and the two aggregations are
    map-side-combinable. Production note: the md5 hex digest is the
    repo-standard cross-engine-exact oracle hash; at 100 TB you'd swap
    in xxhash64 for 8-byte shuffle keys (4x narrower), which changes no
    plan shape."""
    t = load_tables(spark, sf_dir, ("documents",))
    h = (
        t["documents"]
        .filter(F.col("n_chars") >= 64)
        .select("doc_id", "source", "n_chars",
                F.explode(F.expr("sequence(1, n_chars - 63, 32)")).alias("s"),
                "text")
        .select("doc_id", "source", "n_chars",
                F.md5(F.expr("substring(text, s, 64)")).alias("wh"),
                F.expr("(s - 1) DIV 32").alias("b"))
    )
    dup = (h.groupBy("wh")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2)
           .select("wh"))
    blk = (h.join(dup, "wh")
           .select("doc_id", "source", "n_chars",
                   F.explode(F.array(F.col("b"), F.col("b") + 1)).alias("blk")))
    # countDistinct, not .distinct()+count: one exchange on the group key
    # (partial dedup map-side) instead of two near-identical shuffles
    perdoc = (blk.groupBy("doc_id", "source", "n_chars")
              .agg((F.countDistinct("blk") * 32).alias("covered"))
              .withColumn("bps", F.expr("covered * 10000 DIV n_chars")))
    return (perdoc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs_flagged"),
                 F.sum("covered").alias("total_covered_chars"),
                 F.max("bps").alias("max_coverage_bps"),
                 F.sum("bps").alias("sum_coverage_bps"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster, then intra-cluster pairwise cosine
# ---------------------------------------------------------------------------

_SEM_K = 8  # centroid seeds (vec_id < K), matching emb_kmeans_clusters


@query(
    "emb_semdedup",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, embedding AS e FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cid, embedding AS c FROM embeddings
      WHERE vec_id < {_SEM_K}
    ),
    d1 AS (
      SELECT p.vec_id, s.cid,
             list_sum(list_transform(generate_series(1, 64), i ->
               (CAST(p.e[i] AS DOUBLE) - CAST(s.c[i] AS DOUBLE))
               * (CAST(p.e[i] AS DOUBLE) - CAST(s.c[i] AS DOUBLE)))) AS dist
      FROM pts p CROSS JOIN seeds s
    ),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    n AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                x -> x / sqrt(list_reduce(list_transform(embedding::DOUBLE[], y -> y*y),
                                          (a, b) -> a + b))) AS u
      FROM embeddings
    ),
    p AS (
      SELECT bb.vec_id AS id_dup, aa.vec_id AS id_keep, aa.cid AS cluster_id,
             list_reduce(list_transform(list_zip(na.u, nb.u), q -> q[1] * q[2]),
                         (x, y) -> x + y) AS sim
      FROM asg aa JOIN asg bb ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
      JOIN n na ON na.vec_id = aa.vec_id
      JOIN n nb ON nb.vec_id = bb.vec_id
    ),
    f AS (
      SELECT * FROM p WHERE sim >= 0.40
    ),
    k AS (
      SELECT id_dup, MIN(id_keep) AS id_keep FROM f GROUP BY id_dup
    )
    SELECT k.id_dup AS id_dup, k.id_keep AS id_keep,
           f.cluster_id AS cluster_id, ROUND(f.sim, 4) AS sim
    FROM k JOIN f ON k.id_dup = f.id_dup AND k.id_keep = f.id_keep
    ORDER BY id_dup
    """,
)
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means-assign every embedding to
    its nearest seed centroid, then find near-duplicates ONLY within each
    cluster — the clustering turns exact all-pairs O(n²) into
    O(Σ n_c²) ≈ O(n²/K), the published recipe for semantic dedup at
    corpus scale (cluster count grows with the corpus so per-cluster
    blocks stay bounded). Same dup rule as ``dedup_embedding_cosine``
    (cosine ≥ 0.40 against a lower-id vector, keeper = min id) restricted
    to cluster-mates, so the two gates bracket the recall cost of the
    clustering approximation.

    Shape: the k centroids broadcast as one row (the emb_kmeans argmin
    fold — strictly-smaller minimum over cid-sorted seeds, reproducing
    the oracle's ORDER BY dist, cid tie-break); assignment is one
    map-side pass; then the within-cluster pairs run through the SAME
    blocked BLAS kernel as exact all-pairs, just group-keyed
    (``embedding_near_dups(group_col="cid")``): the shuffle key is
    (cluster, block_i, block_j), so per-task memory stays bounded by
    2·rows_per_block vectors even when one cluster holds millions of
    rows — K tunes recall/cost, never a task's memory ceiling. No driver
    collect, no corpus broadcast."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    pts = t["embeddings"].select("vec_id", F.col("embedding").alias("e"))
    seeds = (pts.filter(F.col("vec_id") < _SEM_K)
             .select(F.col("vec_id").cast("bigint").alias("cid"),
                     F.col("e").alias("c")))
    _D = ("aggregate(zip_with(e, {c}, (x, y) ->"
          " (double(x) - double(y)) * (double(x) - double(y))),"
          " 0D, (a, v) -> a + v)")
    _ARGMIN = (
        "aggregate(cents,"
        " named_struct('cid', CAST(-1 AS BIGINT), 'dist', double('Infinity')),"
        f" (acc, s) -> CASE WHEN {_D.format(c='s.c')} < acc.dist"
        f" THEN named_struct('cid', s.cid, 'dist', {_D.format(c='s.c')})"
        " ELSE acc END)")
    cents = seeds.agg(
        F.expr("array_sort(collect_list(struct(cid, c)))").alias("cents"))
    assigned = (
        pts.crossJoin(F.broadcast(cents))
        .select("vec_id", F.col("e").cast("array<double>").alias("v"),
                F.expr(_ARGMIN + ".cid").alias("cid"))
        # two consumers downstream (per-cluster block counts + the pair
        # kernel) — materialize the assignment once instead of paying the
        # argmin fold twice; executor-local storage, lineage truncated
        # (the persist step a production pipeline would run anyway)
        .transform(_pin_ckpt_lazy)
    )

    return (
        embedding_near_dups(assigned, group_col="cid")
        .select("id_dup", "id_keep", F.col("cid").alias("cluster_id"), "sim")
        .orderBy("id_dup")
    )


# ---------------------------------------------------------------------------
# Dedup evaluation: MinHash-LSH recall/precision vs exact Jaccard
# ---------------------------------------------------------------------------

from iceberg_demo_spark.registry import oracle_cte_body as _as_cte_body  # noqa: E402


@query(
    "dedup_minhash_recall",
    # composed from the already-registered pair oracles — the evaluation
    # gate measures EXACTLY the two shipped operators, not a restatement
    oracle=None,  # filled in right below (needs the dict lookups)
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation audit as a first-class operator: recall/precision of
    the banded MinHash-LSH near-dup pairs against the exact n-gram
    Jaccard pairs at the same 0.2 threshold — the number a pipeline owner
    needs before swapping the O(n²) exact pass for the banded join at
    100 TB. Composes the two shipped operators verbatim (same shingles,
    same hashes), joins their pair sets, and reduces to one audit row.
    All outputs are exact integers (basis points via integer division),
    so the oracle comparison has no float boundary at all."""
    ex = dedup_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    ap = dedup_minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    common = ap.join(ex, ["id_a", "id_b"])
    ne = ex.agg(F.count(F.lit(1)).alias("n_exact"))
    na = ap.agg(F.count(F.lit(1)).alias("n_approx"))
    nc = common.agg(F.count(F.lit(1)).alias("n_common"))
    return (
        ne.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nc))
        .select(
            "n_exact", "n_approx", "n_common",
            F.expr("(10000 * n_common) div n_exact").alias("recall_bp"),
            F.expr("(10000 * n_common) div n_approx").alias("precision_bp"),
        )
    )


from iceberg_demo_spark.registry import ORACLES as _OR  # noqa: E402

_OR["dedup_minhash_recall"] = f"""
    WITH approx AS ({_as_cte_body(_OR["dedup_minhash_lsh_pairs"])}),
    exact AS ({_as_cte_body(_OR["dedup_ngram_jaccard_pairs"])}),
    c AS (SELECT COUNT(*) AS n_common
          FROM approx JOIN exact USING (id_a, id_b)),
    e AS (SELECT COUNT(*) AS n_exact FROM exact),
    a AS (SELECT COUNT(*) AS n_approx FROM approx)
    SELECT e.n_exact, a.n_approx, c.n_common,
           (10000 * c.n_common) // e.n_exact AS recall_bp,
           (10000 * c.n_common) // a.n_approx AS precision_bp
    FROM e, a, c
""".strip()


# ---------------------------------------------------------------------------
# Incremental new-batch-vs-corpus dedup (the production shape at 100 TB)
# ---------------------------------------------------------------------------

@query(
    "dedup_incremental_batch",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, doc_id % 5 = 0 AS is_batch,
             md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
    ),
    matched AS (
      SELECT DISTINCT b.wh
      FROM w b JOIN w c ON b.wh = c.wh AND b.is_batch AND NOT c.is_batch
    ),
    bw AS (
      SELECT w.doc_id, w.source, w.wh,
             CASE WHEN m.wh IS NULL THEN 0 ELSE 1 END AS hit
      FROM w LEFT JOIN matched m ON w.wh = m.wh
      WHERE w.is_batch
    ),
    perdoc AS (
      SELECT doc_id, source, MAX(hit) AS contaminated
      FROM bw GROUP BY doc_id, source
    ),
    docstats AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_batch_docs,
             CAST(SUM(contaminated) AS BIGINT) AS n_contaminated,
             CAST(COUNT(*) - SUM(contaminated) AS BIGINT) AS n_clean
      FROM perdoc GROUP BY source
    ),
    winstats AS (
      SELECT source,
             CAST(COUNT(DISTINCT wh) AS BIGINT) AS batch_windows,
             CAST(COUNT(DISTINCT CASE WHEN hit = 1 THEN wh END) AS BIGINT)
               AS matched_windows
      FROM bw GROUP BY source
    )
    SELECT d.source, d.n_batch_docs, d.n_contaminated, d.n_clean,
           ws.batch_windows, ws.matched_windows
    FROM docstats d JOIN winstats ws ON d.source = ws.source
    ORDER BY d.source
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW ingest batch against the standing corpus
    — the shape production pipelines actually run at 100 TB, where
    re-deduplicating the whole corpus per ingest (what every all-corpus
    gate above models) is off the table. Batch = ``doc_id % 5 = 0``
    (a deterministic ~20% "daily crawl"); corpus = the rest. Both sides
    are chunked into the repo-standard 64-char stride-32 windows (short
    docs contribute their whole text as one window), and a batch doc is
    CONTAMINATED when any of its windows already exists in the corpus.
    Output per source: batch doc counts, contaminated/clean split, and
    the distinct-window hit accounting a pipeline owner uses to size the
    overlap.

    Scale shape — the whole point of this gate: the corpus side is never
    shuffled or collected. Distinct batch window hashes (bounded by
    batch bytes / 32) broadcast to the corpus scan; a broadcast LEFT
    SEMI join emits only the matched hashes (<= batch distinct count),
    which broadcast back onto the batch windows. Total shuffle traffic
    is proportional to the BATCH, the 100 TB corpus is one map-side
    pass, and nothing grows with corpus size except that scan. When the
    daily batch itself outgrows broadcast (~8 GB hashes at petabyte
    ingest), the same plan degrades gracefully to a digest-keyed shuffle
    hash join (AQE picks it when the build side exceeds the threshold),
    or a Bloom filter over batch hashes replaces the broadcast set —
    neither changes this operator's dataflow. The md5 hex digest is the
    repo-standard cross-engine-exact oracle hash; production would use
    xxhash64 for 8-byte keys (dedup.py:169 note).
    """
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # persisted: consumed twice (hash-set build + contamination probe) —
    # one batch scan total, the multi-consumer discipline of dedup.py:255
    batch = _ingest_windows(docs.filter("doc_id % 5 = 0")).transform(_pin)
    corpus = _ingest_windows(docs.filter("doc_id % 5 <> 0"))

    batch_hashes = batch.select("wh").distinct()
    matched = (corpus.join(F.broadcast(batch_hashes), "wh", "leftsemi")
               .select("wh").distinct())
    # persisted: feeds both the per-doc and per-window aggregates — the
    # corpus map-pass and semi-join run once, not once per consumer
    flagged = (batch.join(
        F.broadcast(matched.withColumn("hit", F.lit(1))), "wh", "left")
        .withColumn("hit", F.coalesce("hit", F.lit(0)))
        .transform(_pin))
    return _ingest_accounting(flagged)


def _ingest_windows(df: DataFrame) -> DataFrame:
    """Repo-standard dedup chunking: 64-char stride-32 window hashes per
    doc (short docs contribute their whole text as one window) as
    (doc_id, source, wh)."""
    return (
        df.select(
            "doc_id", "source",
            F.explode(
                F.expr("sequence(1, greatest(n_chars - 63, 1), 32)")
            ).alias("s"),
            "text")
        .select("doc_id", "source",
                F.md5(F.expr("substring(text, s, 64)")).alias("wh"))
    )


def _ingest_accounting(flagged: DataFrame) -> DataFrame:
    """Per-source contamination accounting over a (doc_id, source, wh,
    hit) frame: doc counts with contaminated/clean split plus
    distinct-window hit totals. ``flagged`` should be persisted by the
    caller — it feeds two aggregate consumers."""
    perdoc = (flagged.groupBy("doc_id", "source")
              .agg(F.max("hit").alias("contaminated")))
    docstats = (perdoc.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_batch_docs"),
                     F.sum("contaminated").cast("bigint")
                      .alias("n_contaminated"),
                     (F.count(F.lit(1)) - F.sum("contaminated"))
                      .cast("bigint").alias("n_clean")))
    # two-phase distinct (combine on (source, wh), then count) instead of
    # a double countDistinct, whose Expand doubles the shuffled rows
    perwin = flagged.groupBy("source", "wh").agg(F.max("hit").alias("hit"))
    winstats = (perwin.groupBy("source")
                .agg(F.count(F.lit(1)).alias("batch_windows"),
                     F.sum("hit").cast("bigint").alias("matched_windows")))
    return (docstats.join(winstats, "source")
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Incremental dedup against a PERSISTED bucketed corpus hash index
# ---------------------------------------------------------------------------

#: bucket count for the standing window-hash index — sized like the
#: co-located join demo (layout.py): on a cluster, one bucket ≈ one
#: task's comfortable input (a 100 TB corpus ≈ 50 TB of distinct digests
#: wants ~8192 buckets; 16 keeps the demo readable at test SF).
_DEDUP_IDX_BUCKETS = 16


def dedup_index_name(sf_dir: str) -> str:
    """Deterministic per-SF catalog name of the corpus hash index."""
    from iceberg_demo_spark.operators.layout import _sf_tag

    return f"glacier_dedup_idx_{_sf_tag(sf_dir)}"


def ensure_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the standing corpus window-hash index ONCE per SF: the
    DISTINCT corpus digests written ``bucketBy(N, wh) sortBy(wh)`` — the
    one-time shuffle every later ingest probe no longer pays. Rebuilt
    whenever the SOURCE manifest (documents.parquet mtime+size)
    mismatches (the ADVICE r9 #3 stale-index hazard, fixed across the
    whole index tier), so bench reps measure the PROBE, exactly as a
    production dedup service amortizes its index."""
    import os

    from iceberg_demo_spark.operators.layout import write_bucketed, _sf_tag
    from iceberg_demo_spark.scratch import (
        index_current, scratch_path, write_index_manifest)

    name = dedup_index_name(sf_dir)
    path = scratch_path(f"glacier_dedup_idx_{_sf_tag(sf_dir)}")
    if not (spark.catalog.tableExists(name) and os.path.isdir(path)
            and index_current(path, sf_dir, ("documents",))):
        t = load_tables(spark, sf_dir, ("documents",))
        corpus = (_ingest_windows(t["documents"].filter("doc_id % 5 <> 0"))
                  .select("wh").distinct())
        write_bucketed(corpus, "wh", name, path,
                       n_buckets=_DEDUP_IDX_BUCKETS)
        write_index_manifest(path, sf_dir, ("documents",))
    return name


@query("dedup_incremental_indexed", oracle=None)  # shares the batch oracle
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_batch's accounting computed against the
    PERSISTED bucketed corpus hash index — the shape that remains when
    the daily batch outgrows the broadcast threshold (the degradation
    path the broadcast gate's docstring promises, made real).

    Scale shape: the corpus text is hashed ONCE into a standing
    digest-only index (16-byte digests vs raw text — a ~100 TB corpus
    becomes a few-TB index), bucketed and bucket-sorted on the digest.
    Each ingest probe shuffles ONLY the batch windows into the bucket
    partitioning and sort-merge-joins them against the index, whose side
    needs ZERO exchange (plan-asserted: one exchange below the join, on
    the batch side; the index-side sort collapses too once compaction
    leaves one file per bucket). Nothing in the probe grows with corpus
    size except the index scan, and successive daily batches keep
    amortizing the same index — append-only corpus growth appends to the
    index buckets without re-hashing history. Semantics are identical to
    dedup_incremental_batch; the two gates share one oracle, which
    proves the layout doesn't change the answer."""
    return _indexed_probe(spark, sf_dir,
                          ensure_dedup_index(spark, sf_dir))


def _indexed_probe(spark: SparkSession, sf_dir: str,
                   idx_name: str) -> DataFrame:
    """The standing ingest probe against ANY bucketed digest index
    table: batch windows left-join the index on wh (merge-hinted — the
    broadcast fallback is a no-op at production batch sizes), then the
    shared contamination accounting."""
    t = load_tables(spark, sf_dir, ("documents",))
    idx = spark.table(idx_name).withColumn("hit", F.lit(1))
    # persisted: the flagged frame feeds both aggregate consumers, so the
    # probe join runs once. The merge hint only disables broadcast at
    # test SF — a real batch at this tier is past any broadcast
    # threshold, so the hint is a no-op there.
    flagged = (_ingest_windows(t["documents"].filter("doc_id % 5 = 0"))
               .join(idx.hint("merge"), "wh", "left")
               .withColumn("hit", F.coalesce("hit", F.lit(0)))
               .transform(_pin))
    return _ingest_accounting(flagged)


_OR["dedup_incremental_indexed"] = _OR["dedup_incremental_batch"]


def ensure_fragmented_dedup_index(spark: SparkSession, sf_dir: str,
                                  n_epochs: int = 3) -> str:
    """The accumulation hazard, materialized: the same corpus digest set
    as ensure_dedup_index but landed as ``n_epochs`` successive APPENDS
    to the bucketed table (disjoint digest epochs — exactly what the
    novel-only anti-join appends of the streaming/incremental ingest
    path produce over time). Every append job writes its own file into
    every bucket, so files-per-bucket grows one per ingest epoch — the
    same small-files drift the streamed IVF tier showed, now on the
    dedup index. Built once per SF, rebuilt on source-manifest
    mismatch (ADVICE r9 #3 applied tier-wide)."""
    import os

    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.scratch import (
        index_current, scratch_path, write_index_manifest)

    name = f"glacier_dedup_idxfrag_{_sf_tag(sf_dir)}"
    path = scratch_path(name)
    if (spark.catalog.tableExists(name) and os.path.isdir(path)
            and index_current(path, sf_dir, ("documents",))):
        return name
    t = load_tables(spark, sf_dir, ("documents",))
    corpus = (_ingest_windows(t["documents"].filter("doc_id % 5 <> 0"))
              .select("wh").distinct())
    epoch = F.pmod(F.conv(F.substring("wh", 1, 8), 16, 10)
                   .cast("bigint"), F.lit(n_epochs))
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    for i in range(n_epochs):
        (corpus.filter(epoch == i)
         .write.bucketBy(_DEDUP_IDX_BUCKETS, "wh").sortBy("wh")
         .option("path", path)
         .mode("append" if i else "overwrite")
         .format("parquet").saveAsTable(name))
    write_index_manifest(path, sf_dir, ("documents",))
    return name


def compact_dedup_index(spark: SparkSession, src_name: str,
                        name: str, path: str,
                        n_buckets: int = _DEDUP_IDX_BUCKETS) -> str:
    """Bin-pack an append-accumulated bucketed digest index back to ONE
    file per bucket: repartition on the writer's own BUCKET-ID
    expression — ``pmod(hash(wh), n)``, the exact mapping the bucketed
    file writer splits output files by — so every bucket's digests land
    whole in one task (repartitioning on the raw column does NOT
    guarantee this: the shuffle's partition assignment and the writer's
    bucket-id assignment are independent mappings, measured as 3 files
    per bucket surviving the rewrite) and rewrite under the SAME
    bucketBy/sortBy spec into a fresh serving table — the
    compact_ann_index two-tier treatment applied to the dedup tier.
    Layout-only by construction: ingest appends are novel-only
    (anti-joined), so the digest SET is unchanged and the probe answer
    cannot move (the gate shares the unbucketed oracle to prove it).

    Scale shape: one digest-keyed shuffle over the index (digests only —
    a few TB for a 100 TB corpus), amortized over a maintenance window;
    at production scale it runs per-bucket-range (WHERE over the bucket
    id, the rewrite_data_files(where=...) discipline) instead of
    whole-index, and the live tier keeps taking appends while queries
    move to the compacted tier."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    bucket_id = F.pmod(F.hash("wh"), F.lit(n_buckets))
    (spark.table(src_name)
     .repartition(n_buckets, bucket_id)
     .write.bucketBy(n_buckets, "wh").sortBy("wh")
     .option("path", path).mode("overwrite").format("parquet")
     .saveAsTable(name))
    return name


@query("dedup_index_compact", oracle=None)  # shares the batch oracle
def dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index maintenance (round 9, VERDICT r8 #4): accumulate the
    corpus digest index as 3 disjoint ingest-epoch APPENDS (3 files per
    bucket — the small-files drift every novel-only append path
    produces), bin-pack it with compact_dedup_index to ONE file per
    bucket, and run the standing ingest probe against the COMPACTED
    tier. The answer must equal dedup_incremental_batch exactly (shared
    oracle): compaction changes file layout, never answers — and the
    probe keeps its zero-index-side-exchange sort-merge shape over the
    compacted table (plan-pinned; files-per-bucket before/after
    pytest-pinned in test_dedup)."""
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.scratch import scratch_path

    frag = ensure_fragmented_dedup_index(spark, sf_dir)
    cname = f"glacier_dedup_idxcmp_{_sf_tag(sf_dir)}"
    compact_dedup_index(spark, frag, cname, scratch_path(cname))
    return _indexed_probe(spark, sf_dir, cname)


_OR["dedup_index_compact"] = _OR["dedup_incremental_batch"]


# ---------------------------------------------------------------------------
# Cross-source contamination matrix (inter-dataset overlap accounting)
# ---------------------------------------------------------------------------

@query(
    "dedup_cross_source_matrix",
    oracle="""
    WITH w AS (
      SELECT DISTINCT source, doc_id,
             md5(substr(text, s::INT, 64)) AS wh
      FROM documents,
           UNNEST(range(1, greatest(n_chars - 63, 1) + 1, 32)) AS t(s)
    ),
    sw AS (SELECT DISTINCT source, wh FROM w),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_windows
      FROM sw a JOIN sw b ON a.wh = b.wh AND a.source < b.source
      GROUP BY 1, 2
    ),
    contaminated AS (
      SELECT a.source AS source_a, d.source AS source_b,
             CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS docs_b_overlapping
      FROM sw a JOIN w d ON a.wh = d.wh AND a.source < d.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.shared_windows,
           c.docs_b_overlapping
    FROM pairs p JOIN contaminated c
      ON p.source_a = c.source_a AND p.source_b = c.source_b
    ORDER BY p.source_a, p.source_b
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-dataset contamination matrix — the accounting a
    pipeline owner runs BEFORE mixing datasets: for every unordered
    source pair (a < b), how many distinct 64-char windows the two share
    and how many of b's documents carry at least one window that also
    appears in a. Decides mixture weights and which dataset pays the
    dedup (the incremental gates above then act on the chosen
    direction).

    Scale shape: one explode pass over the corpus, collapsed IMMEDIATELY
    to the distinct (source, wh) frame — with S sources the self-join
    input is at most S rows per digest, so the join fan-out is bounded
    by S²/2 per digest regardless of how many documents repeat it (the
    same per-key-bounded self-join discipline as the MinHash band join,
    dedup.py:255). Everything shuffled is digests and source labels;
    text dies at the hash projection. At 100 TB: two digest-keyed
    shuffles, output |S|² rows."""
    t = load_tables(spark, sf_dir, ("documents",))
    w = _ingest_windows(t["documents"]).transform(_pin)
    sw = w.select("source", "wh").distinct().transform(_pin)
    a = sw.select(F.col("source").alias("source_a"), "wh")
    pairs = (a.join(sw.select(F.col("source").alias("source_b"), "wh"),
                    "wh")
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("shared_windows")))
    docs_b = (a.join(w.select(F.col("source").alias("source_b"),
                              F.col("doc_id").alias("doc_b"), "wh"), "wh")
              .filter(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.countDistinct("doc_b").alias("docs_b_overlapping")))
    return (pairs.join(docs_b, ["source_a", "source_b"])
            .orderBy("source_a", "source_b"))


# ---------------------------------------------------------------------------
# Entity resolution: blocked edit-distance (Levenshtein) fuzzy matching
# ---------------------------------------------------------------------------

#: drop delete-1 block keys shared by more rows than this (skew guard)
FUZZY_MAX_BLOCK = 256

#: highest delete position considered (keys from a name's first
#: _FUZZY_MAX_POS+1 chars) — bounds key fan-out for pathological long
#: names. COMPLETENESS CAVEAT: the Lev≤1 guarantee holds only for
#: names of length ≤ _FUZZY_MAX_POS+1; a longer name whose single edit
#: sits PAST this position shares no delete-1 key with its partner (the
#: i=0 identity keys differ, and every in-range delete still differs at
#: the edit), so such pairs are missed. The ORACLE SQL interpolates the
#: SAME constant so the two engines can never silently diverge on it.
_FUZZY_MAX_POS = 63


def _fuzzy_delete1_keys(df: DataFrame, id_col: str, name_col: str,
                        max_block: int = FUZZY_MAX_BLOCK) -> DataFrame:
    """Symmetric-delete blocking keys for Levenshtein≤1 candidate
    generation (the public FastSS / SymSpell construction): each record
    emits its name plus every delete-one-character variant. Two names
    within edit distance 1 ALWAYS share a key — a substitution at
    position p collides on both sides' delete-p variant, an
    insert/delete collides on the longer name's variant vs the shorter
    name itself — so the union over key positions is the completed form
    of "rotated block keys": one pass per character position, every
    single-position edit caught by the pass that deletes that position.

    Skew guard (the "everyone named UNKNOWN" hazard): keys emitted by
    more than ``max_block`` ROWS are DROPPED before the self-join (row
    multiplicity, not distinct records: a name whose repeated adjacent
    characters produce the same variant twice counts twice — a
    conservative over-count, mirrored exactly by the oracle's
    COUNT(*) OVER (PARTITION BY k)),
    exactly as ``max_df`` drops ubiquitous shingles in shingles_col —
    per-task candidate fan-out is thereby ≤ max_block² per key no matter
    how degenerate the data; the recall cost of the cap is measurable
    with the dedup_fuzzy_recall audit. One exchange on the key; the
    count window and the downstream self-join reuse its partitioning."""
    keys = df.select(
        F.col(id_col), F.col(name_col),
        F.explode(F.expr(
            f"transform(sequence(0, least(length({name_col}),"
            f" {_FUZZY_MAX_POS})), i -> "
            f"CASE WHEN i = 0 THEN {name_col} "
            f"ELSE concat(substring({name_col}, 1, i - 1), "
            f"substring({name_col}, i + 1)) END)")).alias("k"))
    w = Window.partitionBy("k")
    return (keys.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_block).drop("_n"))


def _fuzzy_hits(keys: DataFrame, id_col: str, name_col: str) -> DataFrame:
    """Key-blocked self-join → Levenshtein≤1 hits, one row per
    (pair, shared key); pair-distinct aggregation is the caller's."""
    a = keys.select(F.col(id_col).alias("id_a"),
                    F.col(name_col).alias("name_a"), "k")
    b = keys.select(F.col(id_col).alias("id_b"),
                    F.col(name_col).alias("name_b"), "k")
    return (a.join(b, "k")
            .filter(F.col("name_a") < F.col("name_b"))
            .filter(F.levenshtein("name_a", "name_b") <= 1))


_FUZZY_KEYS_SQL = f"""
    k0 AS (
      SELECT c_custkey, c_name,
             CASE WHEN t.i = 0 THEN c_name
                  ELSE substr(c_name, 1, t.i - 1) || substr(c_name, t.i + 1)
             END AS k
      FROM customer, range(0, {_FUZZY_MAX_POS + 1}) t(i)
      WHERE t.i <= length(c_name)
    ),
    kf AS (
      SELECT * FROM k0
      QUALIFY COUNT(*) OVER (PARTITION BY k) <= {FUZZY_MAX_BLOCK}
    ),
    hit AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, a.k
      FROM kf a JOIN kf b ON a.k = b.k AND a.c_name < b.c_name
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    p AS (SELECT DISTINCT id_a, id_b FROM hit)
"""


@query(
    "dedup_fuzzy_name_pairs",
    oracle=f"""
    WITH {_FUZZY_KEYS_SQL},
    m AS (SELECT COUNT(*) AS n_pairs FROM p),
    bl AS (SELECT COUNT(DISTINCT k) AS n_blocks FROM hit),
    u AS (SELECT COUNT(DISTINCT id) AS n_customers_matched FROM (
          SELECT id_a AS id FROM p UNION ALL SELECT id_b AS id FROM p))
    SELECT CAST(m.n_pairs AS BIGINT) AS n_pairs,
           CAST(u.n_customers_matched AS BIGINT) AS n_customers_matched,
           CAST(bl.n_blocks AS BIGINT) AS n_blocks
    FROM m, bl, u
    """,
)
def dedup_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by EDIT DISTANCE — the record-linkage gap the
    token/hash family can't cover (exact, shingle-Jaccard, MinHash,
    SimHash, embedding and substring-window dedup all miss a one-keystroke
    name variant): all pairs whose names are within Levenshtein 1, found
    via symmetric-delete (delete-1 neighborhood) blocking — see
    _fuzzy_delete1_keys. Round 8 replaces the single prefix-block pass
    (whose docstring conceded an edit inside the block key escapes) with
    the COMPLETE multi-pass union: recall at Levenshtein≤1 is exact by
    construction FOR NAMES OF LENGTH ≤ _FUZZY_MAX_POS+1 (= 64; TPC-H
    names are ≤ 25 chars, so exact here) — a single edit at a position
    past _FUZZY_MAX_POS shares no delete-1 key, so longer names' tail
    edits would be missed; proven empirically by the dedup_fuzzy_recall
    audit gate. Output: distinct pair count, distinct records matched, distinct
    blocking keys containing a hit. Spark's ``levenshtein`` and DuckDB's
    compute the identical standard DP, so the gate is value-exact.

    Scale shape: key fan-out is ×(len+1) per record (bounded for name
    columns — the MinHash-signature-row discipline), the self-join
    shuffles on the key, and each key contributes ≤ min(|block|,
    FUZZY_MAX_BLOCK)² candidate pairs — the ubiquitous-key cap makes the
    quadratic term adversary-proof (mitigated, not just named: see the
    skewed-fixture pytest). The Levenshtein filter runs JVM-side inside
    the join stage; pair-distinct dedup shuffles ids only."""
    t = load_tables(spark, sf_dir, ("customer",))
    keys = _fuzzy_delete1_keys(t["customer"].select("c_custkey", "c_name"),
                               "c_custkey", "c_name")
    hits = _fuzzy_hits(keys, "c_custkey", "c_name").transform(_pin)
    pairs = hits.select("id_a", "id_b").distinct().transform(_pin)
    m = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    bl = hits.agg(F.countDistinct("k").alias("n_blocks"))
    u = (pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"))
         .agg(F.countDistinct("id").alias("n_customers_matched")))
    return (m.crossJoin(F.broadcast(u)).crossJoin(F.broadcast(bl))
            .select("n_pairs", "n_customers_matched", "n_blocks"))


@query(
    "dedup_fuzzy_recall",
    oracle=f"""
    WITH s AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0
    ),
    exact AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM s a JOIN s b
        ON a.c_name < b.c_name
       AND abs(length(a.c_name) - length(b.c_name)) <= 1
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    pc AS (
      SELECT c_custkey, c_name,
             substr(c_name, 1, length(c_name) - 2) AS blk
      FROM s
    ),
    pfx AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM pc a JOIN pc b ON a.blk = b.blk AND a.c_name < b.c_name
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    k0 AS (
      SELECT c_custkey, c_name,
             CASE WHEN t.i = 0 THEN c_name
                  ELSE substr(c_name, 1, t.i - 1) || substr(c_name, t.i + 1)
             END AS k
      FROM s, range(0, {_FUZZY_MAX_POS + 1}) t(i)
      WHERE t.i <= length(c_name)
    ),
    kf AS (
      SELECT * FROM k0
      QUALIFY COUNT(*) OVER (PARTITION BY k) <= {FUZZY_MAX_BLOCK}
    ),
    multi AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM kf a JOIN kf b ON a.k = b.k AND a.c_name < b.c_name
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    n AS (SELECT (SELECT COUNT(*) FROM exact) AS n_exact_pairs,
                 (SELECT COUNT(*) FROM pfx) AS n_prefix_pairs,
                 (SELECT COUNT(*) FROM multi) AS n_multipass_pairs)
    SELECT CAST(n_exact_pairs AS BIGINT) AS n_exact_pairs,
           CAST(n_prefix_pairs AS BIGINT) AS n_prefix_pairs,
           CAST(n_multipass_pairs AS BIGINT) AS n_multipass_pairs,
           CAST((10000 * n_prefix_pairs) // greatest(n_exact_pairs, 1)
                AS BIGINT) AS recall_prefix_bps,
           CAST((10000 * n_multipass_pairs) // greatest(n_exact_pairs, 1)
                AS BIGINT) AS recall_multipass_bps
    FROM n
    """,
)
def dedup_fuzzy_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for blocked entity resolution (the
    dedup_minhash_recall / sim_ann_recall discipline — every
    approximation ships with its measured tradeoff): on a deterministic
    1-in-3 sample, compare Levenshtein≤1 pairs found by (a) the old
    single prefix-block pass and (b) the round-8 symmetric-delete
    multi-pass against the EXACT ground truth, as integer counts and
    floor-bps recalls. The multi-pass construction is complete at
    distance 1, so its measured recall is 10000 bps — the audit proves
    the claim rather than assuming it, and pins the prefix pass's
    measured shortfall (the reason round 8 replaced it).

    Scale shape: ground truth is the quadratic term, so it runs on a
    hash-deterministic SAMPLE (the production recall-audit pattern —
    never all-pairs over the corpus), as length-keyed equi joins (|len
    diff|≤1 ⇒ same or adjacent length key, no cartesian) with the small
    sample side broadcast; both candidate passes reuse the shipped
    blocked plans verbatim on the same sample."""
    t = load_tables(spark, sf_dir, ("customer",))
    s = (t["customer"].select("c_custkey", "c_name")
         .filter(F.col("c_custkey") % 3 == 0)
         .withColumn("ln", F.length("c_name")).transform(_pin))

    def pair_count(df: DataFrame) -> DataFrame:
        return df.select("id_a", "id_b").distinct().agg(
            F.count(F.lit(1)).alias("n"))

    a = s.select(F.col("c_custkey").alias("id_a"),
                 F.col("c_name").alias("name_a"), F.col("ln").alias("ln_a"))
    b = s.select(F.col("c_custkey").alias("id_b"),
                 F.col("c_name").alias("name_b"), F.col("ln").alias("ln_b"))
    lev_ok = (F.col("name_a") < F.col("name_b")) & \
        (F.levenshtein("name_a", "name_b") <= 1)
    exact = (a.join(F.broadcast(b), F.col("ln_a") == F.col("ln_b"))
             .filter(lev_ok)
             .unionByName(
                 a.join(F.broadcast(b), F.col("ln_a") == F.col("ln_b") - 1)
                 .filter(lev_ok))
             .unionByName(
                 a.join(F.broadcast(b), F.col("ln_a") == F.col("ln_b") + 1)
                 .filter(lev_ok)))
    pc = s.withColumn(
        "blk", F.expr("substring(c_name, 1, length(c_name) - 2)"))
    pfx = (pc.select(F.col("c_custkey").alias("id_a"),
                     F.col("c_name").alias("name_a"), "blk")
           .join(pc.select(F.col("c_custkey").alias("id_b"),
                           F.col("c_name").alias("name_b"), "blk"), "blk")
           .filter(lev_ok))
    multi = _fuzzy_hits(
        _fuzzy_delete1_keys(s.select("c_custkey", "c_name"),
                            "c_custkey", "c_name"),
        "c_custkey", "c_name")
    n = (pair_count(exact).select(F.col("n").alias("n_exact_pairs"))
         .crossJoin(F.broadcast(pair_count(pfx).select(
             F.col("n").alias("n_prefix_pairs"))))
         .crossJoin(F.broadcast(pair_count(multi).select(
             F.col("n").alias("n_multipass_pairs")))))
    # integer floor division in BOTH engines (DuckDB //, Spark div):
    # float-then-cast would round in DuckDB but truncate in Spark
    return n.select(
        "n_exact_pairs", "n_prefix_pairs", "n_multipass_pairs",
        F.expr("(10000 * n_prefix_pairs) div greatest(n_exact_pairs, 1L)")
        .cast("bigint").alias("recall_prefix_bps"),
        F.expr("(10000 * n_multipass_pairs) div greatest(n_exact_pairs, 1L)")
        .cast("bigint").alias("recall_multipass_bps"))


# ---------------------------------------------------------------------------
# Two-stage dedup cascade: syntactic LSH candidates -> semantic cosine confirm
# ---------------------------------------------------------------------------

#: Confirm threshold for the cascade gate. The synthetic embeddings are NOT
#: correlated with text near-duplication (every LSH candidate pair sits below
#: the 0.40 near-dup threshold, cosine ∈ [-0.22, 0.28] at sf0.01), so the
#: demo confirm line is 0.0 — the value that actually splits this corpus'
#: candidate set and exercises both branches of the verdict. On real,
#: trained embeddings this would be ~0.95 (and _COS_DUP_THRESHOLD itself is
#: the same kind of synthetic-corpus calibration, see above).
_CASCADE_CONFIRM = 0.0


@query(
    "dedup_cascade_lsh_cosine",
    oracle=None,  # composed from the LSH oracle right below
)
def dedup_cascade_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup cascade: cheap SYNTACTIC candidate generation
    (banded MinHash-LSH over text shingles) followed by a SEMANTIC
    confirm (exact embedding cosine on just the candidate pairs). This
    is the two-stage shape corpus pipelines run at 100 TB — the O(n²)
    semantic pass is never materialized; cosine is computed only for
    the LSH survivors, so the expensive stage's cost is ∝ candidates,
    not ∝ corpus². Output: every candidate pair with its syntactic
    estimate, its exact cosine, and the confirm verdict at
    `_CASCADE_CONFIRM` (see that constant for the synthetic-corpus
    calibration honesty note).

    Scale shape: stage 1 is the shipped banded LSH join (shuffle
    carries 3 longs/row); stage 2 re-attaches normalized vectors to the
    candidate frame by id — two hash joins whose build side is the
    candidate list (tiny relative to the corpus), then a JVM-side
    fold for the dot product (zip_with + aggregate, no UDF, no numpy
    round trip for a candidate-sized frame). vec_id ≡ doc_id in the
    testdata (1:1 by construction). Normalization mirrors the DuckDB
    oracle's fold order element-for-element; ROUND(·,4) parity is the
    same contract dedup_embedding_cosine already proves."""
    cand = dedup_minhash_lsh_pairs(spark, sf_dir).select(
        "id_a", "id_b", "est_jaccard")
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # normalization is applied AFTER the candidate joins (round 12): the
    # per-element expression — x / sqrt(Σ y²), the exact fold order the
    # DuckDB oracle mirrors — is unchanged, but it now evaluates only on
    # the candidate-sized joined rows instead of twice over the whole
    # embedding table (the joins stream raw vectors; the CPU-heavy
    # transform runs ∝ candidates, the cascade's design premise)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))

    def _unit(col: str) -> str:
        return (f"transform({col}, x -> x / sqrt(aggregate("
                f"transform({col}, y -> y * y), 0D, (a, b) -> a + b)))")

    cos = F.expr(f"aggregate(zip_with({_unit('va')}, {_unit('vb')}, "
                 "(x, y) -> x * y), 0D, (a, b) -> a + b)")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", "est_jaccard",
            F.round(cos, 4).alias("cos_sim"),
            (cos >= F.lit(_CASCADE_CONFIRM)).cast("int").alias("confirmed"),
        )
        .orderBy("id_a", "id_b")
    )


_OR["dedup_cascade_lsh_cosine"] = f"""
    WITH cand AS ({_as_cte_body(_OR["dedup_minhash_lsh_pairs"])}),
    n AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                x -> x / sqrt(list_reduce(list_transform(embedding::DOUBLE[], y -> y*y),
                                          (a, b) -> a + b))) AS u
      FROM embeddings
    ), s AS (
      SELECT c.id_a, c.id_b, c.est_jaccard,
             list_reduce(list_transform(list_zip(a.u, b.u), q -> q[1] * q[2]),
                         (x, y) -> x + y) AS cos
      FROM cand c
      JOIN n a ON a.vec_id = c.id_a
      JOIN n b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b, est_jaccard, ROUND(cos, 4) AS cos_sim,
           CASE WHEN cos >= {_CASCADE_CONFIRM} THEN 1 ELSE 0 END AS confirmed
    FROM s ORDER BY id_a, id_b
""".strip()



# ---------------------------------------------------------------------------
# Cluster survivorship: near-dup clusters -> kept doc + what dedup removed
# ---------------------------------------------------------------------------

@query(
    "dedup_cluster_survivorship",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_SQL},
    -- MATERIALIZED: the recursive closure references bidir every
    -- iteration; DuckDB inlines plain CTEs, which would re-run the
    -- whole shingle pipeline per iteration
    bidir AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, b FROM bidir
      UNION
      SELECT r.src, e.b FROM reach r JOIN bidir e ON r.dst = e.a
    ), lbl AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_root
      FROM reach GROUP BY src
    ), mem AS (
      SELECT l.doc_id, l.cluster_root, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_root
                                ORDER BY d.n_chars DESC, l.doc_id)
               AS keep_rank
      FROM lbl l JOIN documents d ON d.doc_id = l.doc_id
    ), agg AS (
      SELECT cluster_root,
             CAST(COUNT(*) AS BIGINT) AS cluster_size,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM mem GROUP BY cluster_root
    )
    SELECT a.cluster_root AS cluster_root,
           k.doc_id AS kept_doc_id,
           CAST(k.n_chars AS BIGINT) AS kept_chars,
           a.cluster_size,
           a.cluster_size - 1 AS dropped_docs,
           a.total_chars - k.n_chars AS dropped_chars
    FROM agg a JOIN mem k
      ON k.cluster_root = a.cluster_root AND k.keep_rank = 1
    ORDER BY cluster_root
    """,
)
def dedup_cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup SURVIVORSHIP — the decision dedup_clusters sets up: per
    connected component of the n-gram-Jaccard dup graph, ELECT the
    kept document (the keep-longest policy real corpus dedup ships:
    max n_chars, ties to min doc_id) and account for what deletion
    removes (dropped docs and chars per cluster). This is the actual
    mutation step of corpus dedup — clusters are bookkeeping; the
    survivor list and the removal ledger are what the pipeline writes.

    Spark runs iterative min-label propagation (connected_components);
    the oracle computes the identical closure with a recursive CTE
    whose adjacency list is MATERIALIZED (DuckDB inlines plain CTEs —
    re-deriving the shingle pipeline once per closure iteration).
    Survivor election is one ROW_NUMBER window per cluster, identical
    tiebreak in both engines.

    Scale shape: everything downstream of pair-finding shuffles ids +
    one int (n_chars) only — never text; the CC loop is ≈ diameter
    rounds (near-dup clusters are shallow); election + the removal
    ledger share one cluster_root partitioning. Dense-component
    hazard: a blocked candidate graph (this one is banded/blocked
    upstream) keeps components content-shaped, not grid-shaped — the
    symmetric-delete CUSTOMER name graph, by contrast, is a synthetic
    adjacency grid that collapses to ONE giant component (the failure
    mode we measured and kept out: transitive closure over a dense
    component is quadratic in BOTH engines)."""
    t = load_tables(spark, sf_dir, ("documents",))
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    docs = t["documents"].select("doc_id", F.col("n_chars").cast("bigint"))
    mem = labels.select(F.col("id").alias("doc_id"), "cluster_root").join(
        docs, "doc_id")
    w = Window.partitionBy("cluster_root").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    ranked = mem.withColumn("keep_rank", F.row_number().over(w))
    agg = ranked.groupBy("cluster_root").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_chars").alias("total_chars"))
    kept = ranked.filter(F.col("keep_rank") == 1).select(
        "cluster_root", F.col("doc_id").alias("kept_doc_id"),
        F.col("n_chars").alias("kept_chars"))
    return (
        agg.join(kept, "cluster_root")
        .select(
            "cluster_root", "kept_doc_id", "kept_chars", "cluster_size",
            (F.col("cluster_size") - 1).alias("dropped_docs"),
            (F.col("total_chars") - F.col("kept_chars"))
            .alias("dropped_chars"),
        )
        .orderBy("cluster_root")
    )

# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin-style, lossless at tau)
# ---------------------------------------------------------------------------

@query(
    "dedup_prefix_filter_pairs",
    oracle=None,  # EXACTLY the n-gram Jaccard oracle — assigned below
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published alternative to banding for set-similarity self-join:
    PREFIX FILTERING (Chaudhuri et al. / PPJoin family). Order each
    document's distinct shingles by ascending global document frequency
    (rarest first, ties on the shingle), keep only the first
    |s| − ⌈τ·|s|⌉ + 1 as its PREFIX, and generate candidates from the
    prefix-token equi-join. Completeness at Jaccard ≥ τ is a theorem,
    not a tuning outcome: two qualifying sets share ≥ ⌈τ·|s|⌉ elements,
    more than either suffix can hold, so their smallest-ranked common
    shingle sits in BOTH prefixes. Candidates are then verified with
    the exact intersection count — the output is therefore IDENTICAL
    to dedup_ngram_jaccard_pairs, which is why this gate SHARES that
    gate's oracle verbatim: same answer, different (scalable) plan —
    the dedup_incremental_indexed discipline.

    Scale shape: the candidate join keys on PREFIX tokens only — and
    because prefixes are rarest-first, the high-frequency shingles that
    make the naive co-shingle join quadratic are exactly the ones
    pushed into suffixes and never joined on. At τ=0.2 the prefix is
    still ~80% of the set (filter power grows with τ — at τ=0.8 it is
    ~20%). Verification is PER-CANDIDATE (the published PPJoin shape):
    each doc's shingles are grouped ONCE into a sorted array, candidate
    pairs join to the two arrays by id (two id-keyed joins), and the
    intersection is counted by the JVM ``array_intersect`` intrinsic —
    cost ∝ candidates × avg set size, never corpus². On a dup-dense
    corpus where candidates approach all co-shingle pairs (the tiny-
    uniform-vocabulary synthetic sf1 derivation: ~250k true pairs)
    prefix filtering cannot win — so the planner prices it FIRST from a
    vocab-sized statistic (Σ df_p·(df_p−1)/2 over prefix-token
    frequencies, a multiplicity upper bound on candidates that
    ubiquitous shingles never inflate because rarest-first prefixes
    exclude them) and above ``_PREFIX_MULT_CAP`` per doc short-circuits
    to the plain exact co-shingle join, paying NEITHER the prefix
    self-join NOR the candidate dedup shuffle (losslessness cuts both
    ways: the exact join's thresholded output is the same true pair
    set, so the shared oracle holds on every path). On real Zipfian
    text candidates are few and the candidate-bound path is the
    published order-of-magnitude cut; see
    tests/test_dedup.py::test_prefix_filter_large_vocabulary_power.
    No cartesian anywhere."""
    t = load_tables(spark, sf_dir, ("documents",))
    return prefix_filter_pairs(t["documents"])


#: fall back to the plain exact co-shingle join above this many
#: multiplicity-counted prefix pairs per document (Σ df_p·(df_p−1)/2 /
#: docs — the vocab-sized planning statistic; true candidates are
#: bounded above by it with a corpus-dependent overlap factor:
#: measured ~1.1× on the testdata corpus — 13/12/171 per doc at the
#: three SFs vs 10.7/10.1/158 actual — and ~5/doc on the
#: large-vocabulary fixture, so the cap reproduces the prior
#: actual-candidate decisions exactly while a high-overlap corpus can
#: only fall back EARLY, which is the safe direction)
_PREFIX_MULT_CAP = 64


def prefix_filter_pairs(docs: DataFrame, tau: float = 0.2) -> DataFrame:
    """PPJoin-style set-similarity self-join over ``docs`` (doc_id,
    text): rarest-first prefix blocking + exact per-candidate verify.
    See dedup_prefix_filter_pairs for the full contract; factored out so
    fixtures beyond the testdata corpus (e.g. the large-vocabulary
    power test) can drive it."""
    sh = docs.select("doc_id", F.explode(shingles_col()).alias("s"))
    # one grouped pass builds BOTH the size frame and the per-doc sorted
    # shingle array the candidate-bound verifier joins against; the
    # checkpoint makes it the ONLY pass that ever tokenizes/shingles the
    # corpus — every later consumer (df counts, prefix ranking, the two
    # verify joins, the fallback match stream) re-derives the shingle
    # stream by exploding the materialized arrays instead of re-reading
    # and re-shingling the text
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("arr"),
        F.count(F.lit(1)).alias("n_sh")).transform(_pin_ckpt)
    # identical multiset to ``sh`` (shingles are distinct per doc), but
    # rooted at the checkpointed arrays
    sh = arrs.select("doc_id", F.explode("arr").alias("s"))
    # checkpointed because BOTH the planning statistic and (on the
    # candidate-bound path) candidate generation consume it — and the
    # statistic's action materializes it anyway
    prefix = _prefix_tokens(sh, arrs, tau).transform(_pin_ckpt)
    # bounded driver-side planning decision: Σ df_p·(df_p−1)/2 over the
    # PREFIX-token frequencies upper-bounds the candidate-pair stream
    # (with co-shared-shingle multiplicity) from a VOCAB-sized aggregate
    # — no self-join, no 10⁵-pair dedup shuffle paid just to learn we
    # are in the dup-dense regime. Ubiquitous shingles never inflate it:
    # rarest-first prefixes exclude them by construction, so on real
    # Zipfian text the bound tracks true candidates (~avg-prefix-overlap
    # × pairs, the one calibration constant in _PREFIX_MULT_CAP).
    est_pairs = (prefix.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
                 .agg(F.sum(F.expr("d * (d - 1) div 2")).alias("m"))
                 .first()["m"] or 0)
    n_docs = max(docs.count(), 1)
    if est_pairs <= _PREFIX_MULT_CAP * n_docs:
        cand = _prefix_candidates_from(prefix)
        return _prefix_verify_candidates(cand, arrs, tau)
    # dup-dense regime: candidates approach all co-shingle pairs, so the
    # prefix machinery cannot win — the cheapest CORRECT plan is the
    # plain exact co-shingle join (its thresholded output IS the true
    # pair set, which lossless prefix filtering must equal anyway)
    return _prefix_verify_stream(None, sh, arrs, tau)


def _prefix_tokens(sh: DataFrame, arrs: DataFrame,
                   tau: float) -> DataFrame:
    """(doc_id, s): each doc's rarest-first prefix — shingles ranked by
    ascending global df (ties on the shingle), first |s| − ⌈τ·|s|⌉ + 1
    kept. The planning statistic and the candidate join both consume
    this; one derivation keeps them consistent."""
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rk = Window.partitionBy("doc_id").orderBy("df", "s")
    return (
        sh.join(dfreq, "s")
        .withColumn("rk", F.row_number().over(rk))
        .join(arrs.select("doc_id", "n_sh"), "doc_id")
        .filter(F.col("rk")
                <= F.col("n_sh") - F.ceil(tau * F.col("n_sh")) + 1)
        .select("doc_id", "s")
    )


def _prefix_candidates_from(prefix: DataFrame) -> DataFrame:
    """Distinct candidate pairs from the prefix-token equi-join."""
    a = prefix.select(F.col("doc_id").alias("id_a"), "s")
    b = prefix.select(F.col("doc_id").alias("id_b"), "s")
    return (a.join(b, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))


def _prefix_candidates(sh: DataFrame, arrs: DataFrame,
                       tau: float) -> DataFrame:
    """Candidate pairs from the rarest-first prefix equi-join (the
    fixture tests drive this directly)."""
    return _prefix_candidates_from(_prefix_tokens(sh, arrs, tau))


def _prefix_verify_candidates(cand: DataFrame, arrs: DataFrame,
                              tau: float) -> DataFrame:
    """Candidate-bound exact verification (the published PPJoin verify):
    join each candidate pair to the two per-doc sorted shingle arrays by
    id and count the intersection with the JVM ``array_intersect``
    intrinsic (shingle arrays are distinct by construction, so set
    semantics are exact). Cost ∝ candidates × avg set size; the full
    co-shingle match stream is NEVER re-joined — the plan carries no
    second shingle-keyed exchange (plan-pinned)."""
    aa = arrs.select(F.col("doc_id").alias("id_a"),
                     F.col("arr").alias("arr_a"),
                     F.col("n_sh").alias("n_a"))
    bb = arrs.select(F.col("doc_id").alias("id_b"),
                     F.col("arr").alias("arr_b"),
                     F.col("n_sh").alias("n_b"))
    common = (
        cand.join(aa, "id_a").join(bb, "id_b")
        .select("id_a", "id_b", "n_a", "n_b",
                F.size(F.array_intersect("arr_a", "arr_b"))
                .cast("bigint").alias("n_common"))
    )
    jac = (F.lit(1.0) * F.col("n_common")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    return (
        common.filter(jac >= tau)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _prefix_verify_stream(cand: DataFrame | None, sh: DataFrame,
                          arrs: DataFrame, tau: float) -> DataFrame:
    """Fallback exact verification for dup-dense corpora: the co-shingle
    match stream (the exact gate's join), counted and thresholded —
    optionally restricted to a candidate set when the caller already
    built one (``cand=None`` skips the restriction entirely: the
    thresholded co-shingle count IS the true pair set, so on a corpus
    where candidates approach all co-shingle pairs this is the cheapest
    correct plan — no prefix self-join, no candidate dedup shuffle.
    Round 8's restructure measured the per-candidate form at >40×
    sf0.1→sf1 on the dup-dense derivation; round 9 stops paying even
    the candidate JOIN there)."""
    ma = sh.select(F.col("doc_id").alias("id_a"), "s")
    mb = sh.select(F.col("doc_id").alias("id_b"), "s")
    common = (
        ma.join(mb, "s")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if cand is not None:
        common = common.join(cand, ["id_a", "id_b"])
    common = (
        common.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = arrs.select(F.col("doc_id").alias("id_a"),
                     F.col("n_sh").alias("n_a"))
    nb = arrs.select(F.col("doc_id").alias("id_b"),
                     F.col("n_sh").alias("n_b"))
    jac = (F.lit(1.0) * F.col("n_common")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    return (
        common.join(na, "id_a").join(nb, "id_b")
        .filter(jac >= tau)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


_OR["dedup_prefix_filter_pairs"] = _OR["dedup_ngram_jaccard_pairs"]


# Composed oracle for curation.doc_split_leakage_audit — registered HERE
# because module import order loads curation before this module, so the
# exact-Jaccard pair oracle it nests only exists once dedup has loaded.
_OR["doc_split_leakage_audit"] = f"""
    WITH pairs AS ({_as_cte_body(_OR["dedup_ngram_jaccard_pairs"])}),
    split AS (
      SELECT doc_id,
             CASE WHEN substr(md5(text), 1, 1) < '2'
                  THEN 'valid' ELSE 'train' END AS split
      FROM documents
    ),
    leak AS (
      SELECT LEAST(a.split, b.split) AS side_a,
             GREATEST(a.split, b.split) AS side_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs p
      JOIN split a ON a.doc_id = p.id_a
      JOIN split b ON b.doc_id = p.id_b
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM split GROUP BY split
    )
    SELECT l.side_a, l.side_b, l.n_pairs,
           da.n_docs AS docs_a, db.n_docs AS docs_b
    FROM leak l
    JOIN sizes da ON da.split = l.side_a
    JOIN sizes db ON db.split = l.side_b
    ORDER BY side_a, side_b
""".strip()


# Composed oracle for curation.doc_curation_pipeline — registered HERE
# (like doc_split_leakage_audit's) because it nests the shared exact-
# Jaccard pair pipeline (_PAIRS_SQL) plus the survivorship closure, and
# module import order loads curation before dedup.
from iceberg_demo_spark.operators.curation import (  # noqa: E402
    _PIPE_LM_MIN_PPM as _PIPE_LM)

_OR["doc_curation_pipeline"] = f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tok, UNNEST(range(1, len(t))) AS r(i)
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
    ), lm AS (
      SELECT c2.w1, c2.w2, CAST((1000000 * n2) // n1 AS BIGINT) AS ppm
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    ), lmdoc AS (
      SELECT doc_id, CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS doc_ppm
      FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id
    ), scored AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'and', 'of'))) AS n_en,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
             MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS keeper_id,
             md5(text) AS pri
      FROM documents
    ), qual AS MATERIALIZED (
      SELECT s.source, s.doc_id, s.n_chars, s.n_tok, s.pri
      FROM scored s JOIN lmdoc l USING (doc_id)
      WHERE s.n_en > 0 AND s.n_tok BETWEEN 20 AND 1000
        AND 10 * s.n_stop >= s.n_tok AND 10 * s.n_stop < 9 * s.n_tok
        AND s.doc_id = s.keeper_id AND l.doc_ppm >= {_PIPE_LM}
    ), {_PAIRS_SQL},
    qpairs AS (
      SELECT p.id_a, p.id_b FROM pairs p
      JOIN qual a ON a.doc_id = p.id_a
      JOIN qual b ON b.doc_id = p.id_b
    ), bidir AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM qpairs
      UNION ALL SELECT id_b, id_a FROM qpairs
    ), reach(src, dst) AS (
      SELECT a, b FROM bidir
      UNION
      SELECT r.src, e.b FROM reach r JOIN bidir e ON r.dst = e.a
    ), lbl AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_root
      FROM reach GROUP BY src
    ), mem AS (
      SELECT l.doc_id,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_root
                                ORDER BY q.n_chars DESC, l.doc_id)
               AS keep_rank
      FROM lbl l JOIN qual q USING (doc_id)
    ), surv AS MATERIALIZED (
      SELECT q.*, CASE WHEN substr(pri, 1, 1) < '2'
                       THEN 'valid' ELSE 'train' END AS split
      FROM qual q
      WHERE q.doc_id NOT IN (SELECT doc_id FROM mem WHERE keep_rank > 1)
    ), tr AS (
      SELECT * FROM surv WHERE split = 'train'
    ), per_src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM tr GROUP BY source
    ), w AS (
      SELECT *, CAST(FLOOR(1000000 * sqrt(CAST(n_tokens AS DOUBLE)))
                     AS BIGINT) AS w_raw
      FROM per_src
    ), budgets AS (
      SELECT source,
             CAST(((SUM(n_tokens) OVER () // 2)
                   * CAST(ROUND(1000000 * CAST(w_raw AS DOUBLE)
                                / CAST(SUM(w_raw) OVER () AS DOUBLE))
                          AS BIGINT)) // 1000000 AS BIGINT)
               AS budget_tokens
      FROM w
    ), cum AS (
      SELECT source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY pri, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM tr
    ), picked AS (
      SELECT c.source, CAST(COUNT(*) AS BIGINT) AS picked_docs,
             CAST(SUM(n_tok) AS BIGINT) AS picked_tokens
      FROM cum c JOIN budgets b USING (source)
      WHERE cum_tok <= budget_tokens GROUP BY c.source
    ), base AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
      FROM documents GROUP BY source
    ), nq AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality
      FROM qual GROUP BY source
    ), ns AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_surviving,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_valid
      FROM surv GROUP BY source
    )
    SELECT base.source, base.n_total,
           COALESCE(n_quality, 0) AS n_quality,
           COALESCE(n_surviving, 0) AS n_surviving,
           COALESCE(n_train, 0) AS n_train,
           COALESCE(n_valid, 0) AS n_valid,
           COALESCE(budget_tokens, 0) AS budget_tokens,
           COALESCE(picked_docs, 0) AS picked_docs,
           COALESCE(picked_tokens, 0) AS picked_tokens,
           CAST((10000 * COALESCE(picked_tokens, 0))
                // GREATEST(COALESCE(budget_tokens, 1), 1) AS BIGINT)
             AS fill_bps
    FROM base
    LEFT JOIN nq USING (source)
    LEFT JOIN ns USING (source)
    LEFT JOIN budgets USING (source)
    LEFT JOIN picked USING (source)
    ORDER BY base.source
""".strip()

# Composed oracle for curation.doc_curation_incremental (round 10,
# VERDICT r9 #4): IDENTICAL to the batch pipeline on the merged corpus
# except the bigram LM trains on the STANDING partition only (the
# frozen-quality-model discipline the incremental tier implements) —
# one textual edit, asserted, so the two oracles can never drift apart
# anywhere else. The equivalence this pins: the incremental path
# (state + batch + bloom-guarded index probe + contracted CC) returns
# EXACTLY what a full recompute under the same frozen LM returns.
_CUR_INC_LM_EDIT = (
    "c2 AS (\n      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2"
    " FROM bg GROUP BY w1, w2\n    )")
assert _CUR_INC_LM_EDIT in _OR["doc_curation_pipeline"]
_OR["doc_curation_incremental"] = _OR["doc_curation_pipeline"].replace(
    _CUR_INC_LM_EDIT,
    "c2 AS (\n      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2"
    " FROM bg\n      WHERE doc_id % 5 <> 0 GROUP BY w1, w2\n    )")
# the two-batch CHAIN (round 11, curation.doc_curation_state_advance)
# ends at the same merged corpus under the same frozen LM, so the same
# oracle proves that advancing the state between batches changes no
# answer
_OR["doc_curation_state_advance"] = _OR["doc_curation_incremental"]
