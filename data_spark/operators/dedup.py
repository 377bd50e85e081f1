"""Deduplication operators for large-scale corpus curation.

Four tiers, cheapest to fuzziest:
  1. exact content-hash dedup (hash groupBy — SURVEY A1's DISTINCT, but
     shuffling a 32-byte hash instead of the document body);
  2. exact n-gram Jaccard via inverted-index self-join (no cross join);
  3. MinHash + LSH banding (near-dup at 100 TB scale: candidate pairs
     only for band-bucket collisions);
  4. SimHash with chunk banding (the reference's ad-text identity,
     facebook_compute_load_graph/main.py:150-154, scaled into a
     banded similarity join as SURVEY §4 prescribes).

All shuffle keys are fixed-width hashes; nothing ever cross-joins the
corpus against itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_spark.functions.hashing import hamming64, simhash64


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, keeper_id,
    n_copies) for every hash with >1 copy. Keeper = smallest id."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _words(text: Column) -> Column:
    """Tokenization shared with the DuckDB oracle: lowercase, non-alnum →
    space, trim, split on whitespace runs."""
    return F.split(F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9 ]+", " ")), r"\s+")


def ngrams_from_words(words: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-materialized token-array
    column; empty array for docs with <n words. (Same performance
    contract as functions.hashing.char_shingles: the argument must be an
    attribute, not the tokenization expression, or Spark re-runs the
    tokenizer once per gram inside the lambda.)"""
    size = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), size - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)]),
    )
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets via a
    prefix-filtered set-similarity join (the AllPairs/PPJoin family):

    1. grams are hashed to 64-bit ints (joins/shuffles move longs, not
       strings) and globally ordered rarest-first by document frequency;
    2. only each doc's PREFIX — the first ``|d| − ceil(t·|d|) + 1``
       tokens under that order — is exploded into the candidate
       self-join: two sets with Jaccard ≥ t must share a prefix token,
       so the join is exact-complete while hot (frequent) grams sit at
       the END of the order and almost never enter a prefix — the skew
       that kills a naive inverted-index join is filtered out by
       construction;
    3. candidates are verified exactly with ``array_intersect`` on the
       full hashed-gram arrays.

    Scale: shuffles are gram-frequency agg + per-doc token sort +
    candidate join on rare tokens; candidate count is bounded by prefix
    co-occurrence (≪ full gram co-occurrence), never n².
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # tokenized frame cached as a materialization BARRIER, not just for
    # reuse: a pure-Project pipeline is pushed below the round-robin
    # exchange into the scan stage (Generate/explode is not, but arrays
    # kept as columns are), serializing the expensive gram build when the
    # input is a single split. The cache pins 32 real partitions so the
    # gram build actually runs parallel.
    toks = (
        df.repartition(parallelism)
        .select(F.col(id_col).alias("doc_id"), _words(F.col(text_col)).alias("__words"))
        .cache()
    )
    docs = (
        toks.select("doc_id", ngrams_from_words(F.col("__words"), n).alias("__grams"))
        .select(
            "doc_id",
            F.transform("__grams", lambda g: F.xxhash64(g)).alias("grams"),
            F.size("__grams").alias("sz"),
        )
        .filter(F.col("sz") > 0)
        .cache()  # consumed by the frequency agg, the prefix build, and
        # both verify branches; (id, hashed grams) is tiny next to text
    )
    g = docs.select("doc_id", "sz", F.explode("grams").alias("gram"))
    freq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # rare-first total order (df, gram); prefix length |d| − ceil(t·|d|) + 1
    prefix = (
        g.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "gram"))).alias("toks"),
            F.first("sz").alias("sz"),
        )
        .select(
            "doc_id",
            F.explode(
                F.slice(
                    F.col("toks"),
                    F.lit(1),
                    (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int"),
                )
            ).alias("tok"),
        )
        .cache()  # both sides of the candidate self-join read it
    )
    cand = (
        prefix.alias("x")
        .join(
            prefix.alias("y"),
            (F.col("x.tok") == F.col("y.tok")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"), F.col("sz").alias("na")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"), F.col("sz").alias("nb")
    )
    shared = F.size(F.array_intersect("ga", "gb"))
    jac = shared.cast("double") / (F.col("na") + F.col("nb") - shared)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Decontamination check: per benchmark document, the fraction of its
    word n-grams that appear ANYWHERE in the training corpus.

    Inverted-index shape: corpus grams are deduplicated (distinct gram
    set, the only corpus-sized shuffle) and semi-joined against benchmark
    grams — per-benchmark work scales with |benchmark|·grams, not
    |corpus|·|benchmark|. Returns (doc_id, n_grams, n_contaminated,
    contaminated_frac).
    """
    def grams_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"), _words(F.col(text_col)).alias("__w")
        ).select("doc_id", F.explode(ngrams_from_words(F.col("__w"), n)).alias("gram"))

    corpus_grams = grams_of(corpus).select("gram").distinct()
    bench_grams = grams_of(benchmark)
    hits = (
        bench_grams.join(corpus_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    sizes = bench_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double") / F.col("n_grams"), 6
        ).alias("contaminated_frac"),
    )


# Portable permutation family for hash_family="portable": the proven
# cross-engine construction from the exact-sketch gate tier (md5-prefix
# token hash reduced mod P, then (a·h+b) mod P permutations — both
# expressible identically in Spark and DuckDB; see
# queries/analytics.d_minhash_sig). Coefficients come from a fixed LCG
# so both the Spark plan and a SQL oracle can embed the SAME literals;
# a < P keeps a·h < ~1e18, int64-safe.
MINHASH_PORTABLE_P = 1_000_000_007


def _portable_coeffs(n: int, seed: int) -> list[int]:
    out = []
    x = seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(x % (MINHASH_PORTABLE_P - 1) + 1)
    return out


MINHASH_PORTABLE_A = _portable_coeffs(64, 20250814)
MINHASH_PORTABLE_B = _portable_coeffs(64, 41081502)


def _portable_hash60(col):
    """60-bit md5-prefix hash of a string column — matches DuckDB's
    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) bit-for-bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_width: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature table: (doc_id, sig array<bigint>[num_hashes]).

    Built the scale-friendly way: explode shingles → one codegen'd
    hash per permutation → groupBy(doc) MIN per permutation. Every
    stage is whole-stage-codegen'd and the groupBy gets map-side
    partial aggregation, unlike a nested higher-order-function
    signature expression (which Spark interprets row-at-a-time and
    cannot partial-agg). Input is repartitioned first so a single-file
    corpus still uses every core.

    ``hash_family``: "xxhash64" (default — the engine-native 64-bit
    path, one seeded hash per permutation) or "portable" (md5-prefix
    base hash + (a·h+b) mod p permutations, the cross-engine-exact
    family the gate oracles replay in DuckDB; same plan shape, ~2×
    hash cost, identical banding downstream).
    """
    from data_spark.functions.hashing import _normalize, char_shingles

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    shingled = (
        df.repartition(parallelism)
        .select(F.col(id_col).alias("doc_id"), _normalize(F.col(text_col)).alias("__norm"))
        .select(
            "doc_id",
            F.explode(char_shingles(F.col("__norm"), shingle_width)).alias("shingle"),
        )
    )
    if hash_family == "portable":
        if num_hashes > 64:
            raise ValueError("portable family defines 64 permutations")
        p = MINHASH_PORTABLE_P
        hashed = shingled.select(
            "doc_id", (_portable_hash60(F.col("shingle")) % p).alias("hm")
        )
        mins = hashed.groupBy("doc_id").agg(
            *[
                F.min((F.lit(a) * F.col("hm") + F.lit(b)) % p).alias(f"h{i}")
                for i, (a, b) in enumerate(
                    zip(MINHASH_PORTABLE_A[:num_hashes], MINHASH_PORTABLE_B[:num_hashes])
                )
            ]
        )
    else:
        mins = shingled.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_band_buckets(
    sig: DataFrame, bands: int, rows_per_band: int, hash_family: str = "xxhash64"
) -> DataFrame:
    """(doc_id, sig, band, bucket): each signature split into ``bands``
    row-slices, every slice hashed to its LSH bucket id. Shared by the
    in-memory candidate join and the persistent near-dup index so both
    bucket identically. ``hash_family="portable"`` buckets with the
    md5-prefix hash so a SQL oracle can replay the banding exactly."""
    def bucket_of(b):
        slice_str = F.concat_ws(
            ",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        )
        if hash_family == "portable":
            return _portable_hash60(slice_str)
        return F.xxhash64(slice_str)

    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), bucket_of(b).alias("bucket")),
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_width: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-duplicate candidates.

    shingle → MinHash signature (minhash_signatures) → split into
    ``bands`` bands → hash each band → docs colliding in ≥1 band become
    candidates. est_jaccard = matching-minhash fraction.

    The signature table is tiny (id + 64 longs) relative to the corpus,
    so it is cached before the self-join — otherwise both join branches
    would recompute the shingle scan.

    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_width, hash_family
    ).cache()
    banded = minhash_band_buckets(sig, bands, rows_per_band, hash_family)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / num_hashes
    )
    return cand.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
) -> DataFrame:
    """SimHash near-duplicates via chunk banding.

    A 64-bit simhash pair within Hamming distance ≤3 must agree on at
    least one of four 16-bit chunks (pigeonhole), so candidates are an
    equi-join on (chunk_index, chunk_value) — never a cross join.
    Returns (doc_a, doc_b, hamming).
    """
    sig = df.repartition(df.sparkSession.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("doc_id"), simhash64(F.col(text_col)).alias("sh")
    )
    chunks = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("sh"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sh", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.chunk").alias("chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def blocked_edit_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 30,
    key_words: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by exact edit distance under multi-pass
    blocking — the classic entity-resolution shape (reference analogue:
    the fuzzy matching the FEC name pipeline approximates with
    normalized-name equality; here the distance is exact).

    All-pairs Levenshtein is O(n²·len²) and never survives scale. The
    standard answer is blocking: two cheap keys per document (its first
    ``key_words`` and last ``key_words`` normalized words) gate an
    equi-join, so the expensive comparison runs only inside blocks —
    mutations at either end of a document are still caught by the
    opposite pass. The deduped candidate set is materialized
    (truncate_lineage) before the distance filter: without the barrier
    Catalyst sinks the Levenshtein into the block join's condition,
    where it runs on every bucket match ahead of the cheap id< guard
    and the dedup (measured 4× slower at sf0.1). The distance itself is
    threshold-banded — O(max_dist·len) per pair, exact for every pair
    it keeps. Returns (doc_a, doc_b, dist).
    """
    from data_spark.plans.lineage import truncate_lineage  # noqa: PLC0415

    norm = docs.select(
        F.col(id_col).alias("__id"),
        F.trim(F.regexp_replace(F.lower(text_col), "[^a-z0-9 ]+", " ")).alias("nt"),
    )
    keyed = norm.select(
        "__id", "nt", F.split("nt", r"\s+").alias("words")
    ).filter(F.size("words") >= key_words)
    head = keyed.select(
        "__id",
        "nt",
        F.concat(
            F.lit("H:"), F.array_join(F.slice("words", 1, key_words), " ")
        ).alias("blk"),
    )
    tail = keyed.select(
        "__id",
        "nt",
        F.concat(
            F.lit("T:"), F.array_join(F.slice("words", -key_words, key_words), " ")
        ).alias("blk"),
    )
    blocks = head.unionByName(tail).distinct()
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            F.col("a.nt").alias("na"),
            F.col("b.nt").alias("nb"),
        )
        .distinct()
        .transform(truncate_lineage)
    )
    dist = F.levenshtein("na", "nb", max_dist)
    return cand.select(
        "doc_a", "doc_b", dist.cast("bigint").alias("dist")
    ).filter(F.col("dist") >= 0)


def sorted_neighborhood_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    max_dist: int = 40,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández-Stolfo merge/purge):
    global rank over (normalized text, id) via the two-phase
    distributed ROW_NUMBER (operators/order.py — never a
    single-partition window), then each record meets exactly its
    ``window`` successors through an equi-join on shifted rank, and the
    edit distance runs only on those window·n candidates — bounded
    regardless of key skew, where hash blocking's worst case is one
    giant block. Returns (doc_a, doc_b, gap, dist)."""
    from data_spark.operators.order import global_row_number  # noqa: PLC0415
    from data_spark.plans.lineage import truncate_lineage  # noqa: PLC0415

    d = docs.select(
        F.col(id_col).alias("__id"),
        F.trim(F.regexp_replace(F.lower(text_col), "[^a-z0-9 ]+", " ")).alias("nt"),
    )
    ranked = global_row_number(d, ["nt", "__id"]).transform(truncate_lineage)
    left = ranked.select(
        F.col("__id").alias("doc_a"),
        F.col("nt").alias("na"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("gap"),
        (F.col("rn") + F.col("gap")).alias("rn_b"),
    )
    right = ranked.select(
        F.col("rn").alias("rn_b"),
        F.col("__id").alias("doc_b"),
        F.col("nt").alias("nb"),
    )
    # length gap > max_dist already implies edit distance > max_dist —
    # the O(1) prefilter runs before the O(max_dist·len) banded DP
    # (thresholded levenshtein returns -1 above the band; the <= filter
    # drops those rows, and kept distances equal the full DP's)
    dist = F.levenshtein("na", "nb", max_dist)
    return (
        left.join(right, "rn_b")
        .filter(
            F.abs(F.length("na") - F.length("nb")) <= max_dist
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("gap").cast("bigint").alias("gap"),
            dist.cast("bigint").alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 25,
    min_containment: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram containment |A∩B|/|A| over df-guarded word
    shingles — catches quote-and-extend near-dups that score low on
    Jaccard. The inverted-index self-join drops shingles with document
    frequency above ``max_df`` on BOTH sides, bounding candidate
    fan-out at Σdf² ≤ max_df·|postings|; sizes use the same guarded
    sets so the ratios are exact integer divisions. Returns
    (doc_a, doc_b, n_common, n_a, n_b, cont_a, cont_b)."""
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    from data_spark.plans.lineage import truncate_lineage  # noqa: PLC0415

    toks = docs.select(
        F.col(id_col).alias("__id"), _words(F.col(text_col)).alias("words")
    ).filter(F.size("words") >= n)
    sh = toks.select(
        "__id", F.explode(ngrams_from_words(F.col("words"), n)).alias("shingle")
    ).distinct()
    guarded = (
        sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        .filter(F.col("df") <= max_df)
        .drop("df")
        .transform(truncate_lineage)
    )
    sizes = guarded.groupBy("__id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = guarded.select(F.col("__id").alias("doc_a"), "shingle")
    b = guarded.select(F.col("__id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("__id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("doc_b"), F.col("n").alias("n_b"))
    cont_a = F.col("n_common").cast("double") / F.col("n_a")
    cont_b = F.col("n_common").cast("double") / F.col("n_b")
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((cont_a >= min_containment) | (cont_b >= min_containment))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(cont_a, 6).alias("cont_a"),
            F.round(cont_b, 6).alias("cont_b"),
        )
    )
