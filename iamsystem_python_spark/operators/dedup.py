"""Near-duplicate candidate generation + verification.

All stages are declarative DataFrame ops — Catalyst plans the joins, AQE
handles residual skew. The relational shapes (SURVEY.md §2-B):

- exact dedup      : groupBy(sha256)                — map-side partial agg
- LSH banding      : posexplode(bands) → self-equi-join on band hash
- SimHash blocks   : posexplode(blocks) → self-equi-join, Hamming filter
- verification     : candidate pairs ⋈ shingles recomputed for just the
                     candidate docs, exact Jaccard in a numpy kernel
- bucket cap       : degenerate LSH buckets (e.g. license headers) are
                     capped — the skew backstop the reference hand-rolls as
                     word gates (fuzzy/api.py:204-208) appears here as a
                     bucket-size predicate.

doc_id ordering (a < b) canonicalizes pairs so distinct() dedups across
bands cheaply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iamsystem_python_spark.plans.config import PipelineConfig


def exact_dup_groups(sig_df: DataFrame) -> DataFrame:
    """Exact duplicates by content hash: (sha256, doc_ids, group_size).
    One shuffle on sha256; partial agg happens map-side."""
    return (
        sig_df.groupBy("sha256")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.count("*").alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


def distinct_content_representatives(sig_df: DataFrame) -> DataFrame:
    """One representative row per distinct content (min doc_id wins —
    deterministic). Near-dup search runs on this, not the raw table:
    exact-dup fan-in never inflates the LSH join."""
    w_min = F.min("doc_id").over(Window.partitionBy("sha256"))
    return (
        sig_df.withColumn("_rep", w_min)
        .filter(F.col("doc_id") == F.col("_rep"))
        .drop("_rep")
    )


def lsh_candidate_pairs(sig_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """MinHash-LSH: explode band hashes, self-join on the hash.

    Returns (doc_a, doc_b) distinct candidate pairs, doc_a < doc_b.
    Buckets larger than cfg.band_bucket_cap are dropped (logged upstream via
    lsh_bucket_stats) — a degenerate bucket of B docs would contribute
    O(B²) pairs; exact dups were already removed, so an over-cap bucket is
    hash skew, not signal. At 1000-executor scale this predicate is what
    keeps the shuffle bounded.
    """
    bands = sig_df.select(
        "doc_id", F.explode("bands").alias("band_hash")
    )
    # bucket sizing via a window count over band_hash: one shuffle, fully
    # distributed — and the resulting hash partitioning on band_hash is
    # exactly what the self-join needs, so Catalyst reuses it (no second
    # exchange). The earlier groupBy + driver broadcast of the ok-bucket
    # set serialized millions of hashes through the driver.
    w = Window.partitionBy("band_hash")
    pruned = (
        bands.withColumn("bucket_size", F.count("*").over(w))
        .where(
            (F.col("bucket_size") > 1)
            & (F.col("bucket_size") <= cfg.band_bucket_cap)
        )
        .drop("bucket_size")
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(b, "band_hash")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_bucket_stats(sig_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-bucket histogram — the per-partition metrics surface
    (north_rule). Cheap: one groupBy + one agg over bucket sizes."""
    sizes = (
        sig_df.select(F.explode("bands").alias("band_hash"))
        .groupBy("band_hash")
        .agg(F.count("*").alias("bucket_size"))
    )
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.avg("bucket_size").alias("avg_bucket"),
        F.sum(F.when(F.col("bucket_size") > cfg.band_bucket_cap, 1).otherwise(0)).alias(
            "n_capped_buckets"
        ),
    )


def simhash_blocks(sig_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(doc_id, simhash, block_id, block_value): one row per 64/num_blocks
    bit block of each doc's SimHash — the join key of the pigeonhole
    candidate search (full-corpus self-join here, batch-vs-store join in
    plans/ingest)."""
    nb = cfg.simhash_num_blocks
    width = 64 // nb
    mask = (1 << width) - 1
    return sig_df.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_value"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_value")


def simhash_candidate_pairs(sig_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """SimHash bit-block LSH: two 64-bit hashes within Hamming distance d
    share ≥1 identical block when num_blocks > d (pigeonhole). Equi-join on
    (block_id, block_value), then exact popcount filter — all JVM-side
    (bit ops + AQE), no UDF."""
    blocks = simhash_blocks(sig_df, cfg)
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(b, ["block_id", "block_value"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= cfg.simhash_max_hamming)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return pairs


def verify_pairs_recompute(
    candidates: DataFrame,
    docs_df: DataFrame,
    cfg: PipelineConfig,
    text_col: str = "content",
) -> DataFrame:
    """Exact Jaccard verification by RECOMPUTING shingles from content for
    just the candidate docs — the scale path: persisted shingle sets are
    ~10 KB/doc of incompressible hashes (petabytes at 10^12 docs), while
    candidates are a small, LSH-selected fraction. Join pairs back to
    content, tokenize+shingle in a numpy kernel, intersect.

    docs_df needs (doc_id, content) — pass the pipeline input with doc_id
    attached (the pipeline caches this projection)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from iamsystem_python_spark.functions.hashing import TokenIdMap, shingle_hashes
    from iamsystem_python_spark.operators.signatures import _get_tokenizer

    k = cfg.shingle_k
    tokenizer_name = cfg.tokenizer
    threshold = cfg.jaccard_threshold

    docs = docs_df.select("doc_id", F.col(text_col).alias("_text"))
    # shuffle only the candidates' content, not the whole corpus: semi-join
    # the (small) candidate id set first — broadcast, no full-corpus shuffle
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")

    # Pass 1: shingles ONCE per distinct candidate doc (not once per pair —
    # a doc in P pairs would otherwise be tokenized up to P times). Stored
    # as a binary blob (int64 LE), which parquet/Arrow moves far faster
    # than deep arrays.
    blob_schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("sh", T.BinaryType())]
    )

    def shingle_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = _get_tokenizer(tokenizer_name)
        idmap = TokenIdMap()
        for pdf in batches:
            blobs = [
                np.unique(
                    shingle_hashes(idmap.ids(tok.norm_tokens_fast(t)), k)
                ).tobytes()
                for t in pdf["_text"].tolist()
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sh": blobs})

    blobs = docs.mapInPandas(shingle_kernel, schema=blob_schema)

    # Pass 2: join blobs onto pairs, exact Jaccard in numpy. The blob side
    # carries ~KBs/row, so a sort-merge join would SORT wide blob rows (and
    # on the second join re-sort pairs that already carry sh_a) — measured
    # 8.9 GB of pure sort spill at 2M docs. The shuffle_hash hint builds the
    # per-partition hash map on the blob side and STREAMS the pair side
    # through unsorted; per-partition build size is bounded by the
    # data-scaled shuffle-partition count (bench.py/run_pipeline.py), and
    # AQE's coalescing keeps partitions near the advisory size at any scale.
    paired = candidates.join(
        blobs.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a")
        .hint("shuffle_hash"),
        "doc_a",
    ).join(
        blobs.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b")
        .hint("shuffle_hash"),
        "doc_b",
    )

    schema = T.StructType(
        [
            T.StructField("doc_a", T.StringType()),
            T.StructField("doc_b", T.StringType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def jaccard_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                sa = np.frombuffer(r.sh_a, dtype=np.uint64)
                sb = np.frombuffer(r.sh_b, dtype=np.uint64)
                inter = len(np.intersect1d(sa, sb, assume_unique=True))
                union = len(sa) + len(sb) - inter
                j = inter / union if union else 1.0
                if j >= threshold:
                    rows.append((r.doc_a, r.doc_b, j))
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])

    return paired.mapInPandas(jaccard_kernel, schema=schema)


def expand_pairs_through_exact_groups(
    verified: DataFrame, sig_df: DataFrame
) -> DataFrame:
    """Near-dup pairs were computed between content representatives; expand
    each endpoint back to every doc sharing that content. The rep→member map
    is linear in corpus size (one row per doc), never quadratic."""
    rep_map = sig_df.select(
        F.col("doc_id").alias("member"),
        F.min("doc_id").over(Window.partitionBy("sha256")).alias("rep"),
    )
    out = (
        verified.join(
            rep_map.withColumnRenamed("rep", "doc_a").withColumnRenamed("member", "m_a"),
            "doc_a",
        )
        .join(
            rep_map.withColumnRenamed("rep", "doc_b").withColumnRenamed("member", "m_b"),
            "doc_b",
        )
        .where(F.col("m_a") != F.col("m_b"))
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            "jaccard",
        )
        .distinct()
    )
    return out
