"""Near-duplicate detection family for training-data pipelines:
exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the point of each design):

- exact_dedup: one hash-shuffle groupBy — the cheapest pass, run first.
- ngram_jaccard_pairs: exact pairwise Jaccard via a shingle-inverted
  index (explode → self-join on shingle → count). Quadratic in the
  worst case — correct baseline, use only after LSH candidate pruning
  at scale.
- minhash_lsh: banded MinHash — candidates are pairs sharing ≥1 band
  bucket, so the join is on (band, bucket) instead of all-pairs; the
  classic sub-quadratic scale path. Hash family is md5(seed || shingle)
  (portable, deterministic) with the min taken per seed.
- simhash: 64-bit sign-sum sketch; hamming-close pairs are near-dups.

All DataFrame-native: explode / groupBy / join — no Python in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.operators.text import normalize_text, word_shingles


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest id per identical normalized text.

    The groupBy key is ``md5(normalized_text)``, NOT the text itself:
    grouping by the full body would make the shuffle exchange carry the
    whole corpus (at 100 TB, the corpus twice — once in the key, once
    in the partial-agg rows). Hash-first drops the shuffle key to
    16 bytes/doc with identical groups. md5 (128-bit) rather than
    xxhash64 because at 10^10 docs a 64-bit key expects ~3 birthday
    collisions; 128-bit expects ~10^-19.
    """
    return (
        df.groupBy(F.md5(normalize_text(text_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


def _pair_jaccard(shingles: DataFrame, id_col: str) -> DataFrame:
    """(a, b, jaccard) for all doc pairs sharing ≥1 shingle; a < b.

    The shingle table feeds THREE plan branches (sizes, left, right);
    Spark does not share subtrees across join branches, so without
    materialization the scan + normalize + explode runs three times.
    One eager localCheckpoint (memory-and-disk) makes it one pass —
    the standard 'stage the inverted index once' shape of an LSH job.
    """
    shingles = shingles.localCheckpoint()
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    left = shingles.select(F.col(id_col).alias("a"), "shingle")
    right = shingles.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .select(
            "a", "b",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold)."""
    sh = word_shingles(df, id_col, text_col, n)
    return _pair_jaccard(sh, id_col).where(F.col("jaccard") >= threshold)


def minhash_signatures_wide(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, m0..m{k-1}) — all k minhashes as aggregate columns of ONE
    groupBy over (id, shingle). The naive formulation explodes every
    shingle k times and shuffles (id, seed)-keyed rows; this computes
    k ``min`` aggregates in a single pass, so the shuffle carries k×
    fewer rows and the map-side partial combine collapses each
    partition to one row per id before the exchange — the difference
    between O(k·shingles) and O(shingles) shuffle bytes at 10^9 docs.

    minhash_s = min(md5("s:" || shingle)) — md5-hex-string min is
    engine-portable, deterministic, uniform enough for LSH banding.
    """
    aggs = [
        F.min(
            F.md5(F.concat_ws(":", F.lit(str(s)), F.col("shingle")))
        ).alias(f"m{s}")
        for s in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Banded-LSH candidate pairs, verified with exact Jaccard.

    Pipeline: shingle → minhash(num_hashes) → band signatures
    (num_hashes/bands rows each) → bucket-join on (band, bucket) →
    exact-Jaccard verify ≥ verify_threshold. Output (a, b, jaccard).
    """
    rows_per_band = num_hashes // bands
    # The shingle table feeds four branches (signatures, sizes, and
    # both sides of the verify join); materialize it once instead of
    # re-running scan + normalize + explode per branch (~30% of the
    # operator wall at bench scale; see _pair_jaccard for the scale
    # rationale).
    sh = word_shingles(df, id_col, text_col, n).localCheckpoint()
    wide = minhash_signatures_wide(sh, id_col, num_hashes)
    # Band buckets straight from the wide signature — a narrow
    # explode of `bands` structs per doc; no (id, seed) or (id, band)
    # shuffle at all (the old tall formulation needed both).
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.array_sort(
                        F.array(*[
                            F.col(f"m{s}")
                            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ])
                    ),
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = wide.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_bb")
    ).select(id_col, "_bb.band", "_bb.bucket")
    left = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # Verify candidate PAIRS only (not all pairs among candidate docs):
    # route the shingle-intersection join through the candidate list.
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh.select(F.col(id_col).alias("a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        cand.join(sh_a, "a")
        .join(sh_b, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .select(
            "a", "b",
            F.round(F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= verify_threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of the sum of
    token-hash bits. JVM-side: explode words → bit-test xxhash64 →
    groupBy sum → reassemble."""
    from etl_warehouse_agnostic_spark.operators.text import words

    tok = df.select(F.col(id_col), F.explode(words(text_col)).alias("w")).where(F.col("w") != "")
    h = F.xxhash64("w")
    one = F.lit(1).cast("long")
    bit_cols = [
        F.sum(
            F.when(h.bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_cols)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Blocked on 16-bit chunks (pigeonhole: ≤3 differing bits over 4
    chunks → ≥1 identical chunk), so the join is equi on (chunk_idx,
    chunk_value) — no all-pairs."""
    sig = simhash(df, id_col, text_col).cache()
    chunks = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("cv"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select(id_col, "simhash", "c.ci", "c.cv")
    left = chunks.select(F.col(id_col).alias("a"), F.col("simhash").alias("sig_a"), "ci", "cv")
    right = chunks.select(F.col(id_col).alias("b"), F.col("simhash").alias("sig_b"), "ci", "cv")
    cand = (
        left.join(right, ["ci", "cv"]).where(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b").distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("a", "b", ham.alias("hamming")).where(F.col("hamming") <= max_hamming)
