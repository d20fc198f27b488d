"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash signature → band
bucket → candidate join → Jaccard verify), SimHash (fully relational —
JVM-side token hashing + 64 conditional bit-sums), n-gram Jaccard, and embedding-cosine near-dup (similarity_search).

Scale posture (100 TB corpus):
  * never shuffle raw text as a key — exact dedup groups on md5(text)
    (16-byte key); shingle sets are dropped before the candidate join and
    re-joined only for the verify step on the (tiny) candidate pair set;
  * LSH banding turns the O(n²) all-pairs problem into per-bucket joins;
    bucket skew (a viral boilerplate shingle-set) is bounded by capping
    bucket width with a deterministic salt, and AQE skew-join covers the
    verify join;
  * minhash/band functions are md5-based so they are reproducible across
    engines (the DuckDB oracle mirrors them exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def tokenize(text_col: str = "text"):
    return F.split(F.col(text_col), " ")


def shingles(text_col: str = "text", n: int = 3):
    """Distinct word n-gram shingles, built JVM-side with array functions
    (no UDF): transform over a 0..len-n index sequence.

    Texts with fewer than n tokens yield an EMPTY array (matching the
    DuckDB oracle's ``range``, which produces no indices) — the naive
    ``sequence(0, greatest(...))`` would emit one degenerate shortened
    shingle and throws under ``spark.sql.ansi.enabled`` (element_at past
    the array end)."""
    toks = tokenize(text_col)
    # zip_with over n shifted slices: each slice evaluates the token array
    # ONCE PER ROW.  (The element_at-in-lambda construction re-evaluated
    # split(text) per array element — ~n·len(toks) full-text splits per
    # row, the measured hot spot of the LSH pipeline.)
    L = F.size(toks) - (n - 1)
    sh = F.slice(toks, 1, L)
    for j in range(1, n):
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, L), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# exact + n-gram Jaccard dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per identical content hash."""
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def jaccard(a, b):
    """|A∩B| / |A∪B| over array columns (distinct elements assumed)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs n-gram Jaccard within blocking-key groups (a cheap
    blocked baseline; MinHash-LSH below removes the blocking assumption).
    """
    s = docs.select(
        F.col(id_col), F.col(block_col).alias("blk"), shingles(text_col, n).alias("sh")
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(sh_col, n_hashes: int = 8):
    """n_hashes md5-minhashes of a shingle array: hash_i(s) = md5(s || '#i'),
    signature_i = min over shingles.  md5-as-string min is a valid uniform
    minhash and is engine-portable (DuckDB computes the identical value)."""
    return F.array(
        *[
            F.array_min(
                F.transform(sh_col, lambda s: F.md5(F.concat(s, F.lit(f"#{i}")).cast("binary")))
            )
            for i in range(n_hashes)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_width: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: signature → band keys → bucket join →
    exact Jaccard verify on candidates only.

    Scale shape (the 100 TB story):
      * the banded table carries ``(doc, band, key)`` ONLY — shingle
        arrays never enter the ×bands explode or the bucket self-join;
        they are re-joined just for the verify step, whose input is the
        (small) deduplicated candidate-pair set;
      * ``max_bucket_width`` bounds the O(w²) self-join of a viral bucket
        (boilerplate text): each bucket keeps its ``max_bucket_width``
        lowest doc ids (deterministic).  Docs cut from one hot bucket can
        still pair through their other bands; exact-duplicate clusters
        should be collapsed by exact_dedup upstream.  Default OFF — the
        cap trades recall for a worst-case bound, so scale-sensitive call
        sites opt in explicitly rather than silently losing pairs.
    """
    rows_per_band = n_hashes // bands
    s = (
        docs.select(
            F.col(id_col).alias("doc"),
            shingles(text_col, n).alias("sh"),
        )
        # empty shingle sets (texts shorter than n tokens) would all share
        # one all-NULL signature and collapse into a single mega-bucket
        .filter(F.size("sh") > 0)
    )
    banded = s.withColumn("sig", minhash_signature(F.col("sh"), n_hashes)).select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|", *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket_width:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "key").orderBy("doc")
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_bucket_width)
            .drop("_rn")
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = s.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = s.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash — fully relational (zero Python on the hot path)
# ---------------------------------------------------------------------------


def simhash_parts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, sim_hi, sim_lo): 64-bit SimHash as two unsigned 32-bit halves,
    computed entirely JVM-side — explode tokens, per-token 64-bit hash =
    first 8 bytes of md5(token) (hi = md5 hex chars 1-8, lo = 9-16), then
    ONE hash aggregate with 64 conditional bit-sums + a count; the
    per-bit majority (ties set the bit: ones*2 >= n) reassembles the
    fingerprint.  Duplicated tokens vote once each, matching the classic
    definition.

    Scale shape: the explode fans out ×tokens but each row is (doc,
    int, int); partial (map-side) aggregation collapses to one row per
    doc per partition before the shuffle, so the shuffle is O(docs), not
    O(tokens).  Two 32-bit halves avoid int64 sign overflow in BOTH
    engines (the DuckDB oracle plays the same trick with HUGEINT)."""
    t = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("tok"),
    )
    h = F.md5(F.col("tok").cast("binary"))
    t = t.select(
        "doc",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(32):
        aggs.append(
            F.sum(F.shiftrightunsigned(F.col("hi"), j).bitwiseAND(F.lit(1))).alias(f"h{j}")
        )
        aggs.append(
            F.sum(F.shiftrightunsigned(F.col("lo"), j).bitwiseAND(F.lit(1))).alias(f"l{j}")
        )
    g = t.groupBy("doc").agg(*aggs)

    def _assemble(prefix: str):
        out = F.lit(0).cast("long")
        for j in range(32):
            out = out + F.when(
                F.col(f"{prefix}{j}") * 2 >= F.col("n"), F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    return g.select(
        "doc", _assemble("h").alias("sim_hi"), _assemble("l").alias("sim_lo")
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into n_blocks
    equal bit-blocks (pigeonhole: hamming ≤ n_blocks-1 ⇒ ≥1 identical
    block, so recall is GUARANTEED iff max_hamming < n_blocks), bucket-join
    on block value, verify hamming distance with bit_count.  Blocks k<n/2
    come from the low 32-bit half, the rest from the high half."""
    assert 64 % n_blocks == 0 and max_hamming < n_blocks
    width = 64 // n_blocks
    half_blocks = 32 // width
    mask = (1 << width) - 1
    s = simhash_parts(docs, id_col, text_col)
    blocks = s.select(
        "doc",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftrightunsigned(
                            F.col("sim_lo" if k < half_blocks else "sim_hi"),
                            width * (k % half_blocks),
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for k in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc", "sim_hi", "sim_lo", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc") < F.col("b.doc")))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sim_hi").alias("hi_a"),
            F.col("a.sim_lo").alias("lo_a"),
            F.col("b.sim_hi").alias("hi_b"),
            F.col("b.sim_lo").alias("lo_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
