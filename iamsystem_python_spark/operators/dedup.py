"""Near-duplicate candidate generation + verification.

All stages are declarative DataFrame ops — Catalyst plans the joins, AQE
handles residual skew. The relational shapes (SURVEY.md §2-B):

- exact dedup      : groupBy(sha256)                — map-side partial agg
- pair join        : ``bucket_pairs`` — explode keys, cap hot buckets,
                     equi-join on the key, keep each pair once. It is the
                     ONE place for the bucket cap, the canonical pair order
                     (id_a < id_b) and the batch-vs-store side rule (never
                     an old-old pair); every candidate generator in the
                     package calls it and keeps only its key derivation
                     and its scoring
- LSH banding      : explode(bands) → bucket_pairs on the band hash — the
                     pipeline's one candidate generator
- SimHash blocks   : ``simhash_blocks``, the pigeonhole block explode the
                     SQL (dedup_text.simhash_pairs_sql) and streaming
                     (streaming.stream_ops) SimHash operators share
- verification     : candidate pairs ⋈ shingles recomputed for just the
                     candidate docs, exact Jaccard in a numpy kernel
- bucket cap       : degenerate buckets (e.g. license headers) are
                     capped — the skew backstop the reference hand-rolls as
                     word gates (fuzzy/api.py:204-208) appears here as a
                     bucket-size predicate.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

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


def bucket_pairs(
    rows: DataFrame,
    id_col: str,
    keys: Union[str, Sequence[str]],
    cap: Optional[int] = None,
    store: Optional[DataFrame] = None,
    tag: Optional[str] = None,
) -> DataFrame:
    """Every pair of rows sharing a bucket key: the one pair join behind
    every candidate generator (LSH bands, SimHash blocks, n-gram and
    fingerprint blocks, blocking columns).

    ``rows`` is (id_col, *keys, *payload). The result carries the key
    columns and, for the id and each payload column ``c``, ``c_a`` and
    ``c_b`` with ``{id_col}_a < {id_col}_b``: one row per shared key per
    pair, so a caller scores it, counts shared keys or ``distinct()``s it.

    ``cap`` drops every bucket of more than ``cap`` rows whole (a B-row
    bucket yields O(B²) pairs; over the cap it is skew, not signal) via a
    window count on the key: one shuffle, whose partitioning the join
    reuses. With ``tag`` the drops surface as the observe metric
    ``{tag}_block_cap`` (column ``{tag}_rows_dropped``).

    ``store`` holds historical rows of the same schema; ``rows`` is then a
    batch and no old-old pair is produced. The store is pre-filtered by a
    broadcast of the batch's key set (one streamed scan), the cap applies
    to the batch ∪ store bucket, new-new pairs come once and new-old pairs
    whatever the id order; ``pair_side`` is "new-new" or "new-old"."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    cols = [c for c in rows.columns if c not in keys]

    def capped(df: DataFrame) -> DataFrame:
        if cap is None:
            return df
        sized = df.withColumn("_n", F.count("*").over(Window.partitionBy(*keys)))
        if tag is not None:
            sized = sized.observe(
                f"{tag}_block_cap",
                F.sum(F.when(F.col("_n") > cap, 1).otherwise(0)).alias(
                    f"{tag}_rows_dropped"
                ),
            )
        return sized.where((F.col("_n") > 1) & (F.col("_n") <= cap)).drop("_n")

    def side(df: DataFrame, s: str, *extra: str) -> DataFrame:
        return df.select(*keys, *extra, *[F.col(c).alias(f"{c}_{s}") for c in cols])

    if store is None:
        kept = capped(rows)
        return (
            side(kept, "a")
            .join(side(kept, "b"), keys)
            .where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        )
    old = store.select(*rows.columns).join(
        F.broadcast(rows.select(*keys).distinct()), keys
    )
    targets = capped(
        rows.withColumn("_old", F.lit(False)).unionByName(
            old.withColumn("_old", F.lit(True))
        )
    )
    n_id, t_id = F.col(f"{id_col}_n"), F.col(f"{id_col}_t")
    swap = n_id > t_id
    return (
        side(rows, "n")
        .join(side(targets, "t", "_old"), keys)
        .where(F.col("_old") | (n_id < t_id))
        .where(n_id != t_id)
        .select(
            *keys,
            *[
                F.when(swap, F.col(f"{c}_{x}"))
                .otherwise(F.col(f"{c}_{y}"))
                .alias(f"{c}_{z}")
                for c in cols
                for x, y, z in (("t", "n", "a"), ("n", "t", "b"))
            ],
            F.when(F.col("_old"), F.lit("new-old"))
            .otherwise(F.lit("new-new"))
            .alias("pair_side"),
        )
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, cfg: PipelineConfig, store: Optional[DataFrame] = None
) -> DataFrame:
    """MinHash-LSH: explode band hashes, pair docs sharing a band hash.

    Returns (doc_a, doc_b) distinct candidate pairs, doc_a < doc_b; with a
    ``store`` signature table, the batch's pairs against the batch and the
    store (bucket_pairs). Buckets larger than cfg.band_bucket_cap are
    dropped (reported by lsh_bucket_stats, which NearDupPipeline runs only
    with ``collect_bucket_stats=True``). Exact dups were already removed,
    but an over-cap bucket can still be signal: a near-dup cluster larger
    than the cap shares almost every band, so today the cap drops most of
    its pairs (ROADMAP: "Hot near-dup clusters are lost at the bucket
    cap"). At 1000-executor scale this cap is what keeps the shuffle
    bounded.
    """

    def bands(sig: DataFrame) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias("doc"), F.explode("bands").alias("band_hash")
        )

    return (
        bucket_pairs(
            bands(sig_df),
            "doc",
            "band_hash",
            cap=cfg.band_bucket_cap,
            store=None if store is None else bands(store),
        )
        .select("doc_a", "doc_b")
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


def simhash_blocks(sig_df: DataFrame, num_blocks: int, bits: int) -> DataFrame:
    """(doc_id, simhash, block_id, block_value): one row per bits/num_blocks
    bit block of each doc's ``bits``-wide SimHash — the join key of the
    pigeonhole candidate search in dedup_text.simhash_pairs_sql and
    streaming.stream_ops.streaming_neardup_stateful."""
    width = bits // num_blocks
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
                    for i in range(num_blocks)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_value")


def exact_edges(sig_df: DataFrame, store: Optional[DataFrame] = None) -> DataFrame:
    """Exact-duplicate edges (doc_a, doc_b, jaccard=1.0): each doc links to
    the min doc_id of its sha256. With a ``store`` signature table, each
    doc also links to the store's min doc_id of its sha (one edge is
    enough: the store's copies are already one cluster)."""
    rep = F.min("doc_id").over(Window.partitionBy("sha256"))
    edges = sig_df.select("doc_id", rep.alias("rep")).where(
        F.col("doc_id") != F.col("rep")
    )
    if store is not None:
        old_rep = (
            store.select("doc_id", "sha256")
            .join(F.broadcast(sig_df.select("sha256").distinct()), "sha256")
            .groupBy("sha256")
            .agg(F.min("doc_id").alias("rep"))
        )
        edges = edges.union(
            sig_df.select("doc_id", "sha256")
            .join(F.broadcast(old_rep), "sha256")
            .select("doc_id", "rep")
        )
    return edges.select(
        F.least("doc_id", "rep").alias("doc_a"),
        F.greatest("doc_id", "rep").alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
    )


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
                # a doc with no shingles is a near-dup of nothing (identical
                # bytes still link through exact_edges)
                if union and inter / union >= threshold:
                    rows.append((r.doc_a, r.doc_b, inter / union))
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])

    return paired.mapInPandas(jaccard_kernel, schema=schema)

