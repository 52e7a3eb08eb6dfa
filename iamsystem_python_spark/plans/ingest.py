"""Nightly incremental ingest against a persisted near-dup store.

The production loop at 10^12 files is NOT "re-run the pipeline on the
whole corpus plus tonight's batch" — it is: sign ONLY the batch, find the
batch's pairs against the store's fixed-width sketches, verify, and fold
the edges into the persisted cluster assignment. This runner is that loop,
built from the same operators the full `NearDupPipeline` uses:

  store (prior pipeline out_dir: signatures/ + clusters/)
    + new batch (repo, path, commit, lang, content)
    → new_signatures   (mapInPandas kernel over the BATCH only)
    → candidates       (batch bands vs store bands ∪ batch bands — the
                        store side is pre-filtered by a broadcast of the
                        batch's band-key set, so the store band table is
                        ONE streamed scan and no old-old pair is ever
                        generated; same for SimHash blocks)
    → exact edges      (batch shas vs store shas — each new exact copy
                        links to the store's min doc per sha: ONE edge is
                        enough, history's copies are already clustered)
    → verified_pairs   (exact Jaccard recompute — historical TEXT is read
                        only for the O(|candidates|) old docs touched,
                        via a broadcast semi-join on the candidate id set)
    → clusters         (cc.incremental_connected_components: delta-graph
                        star contraction + broadcast relabel — the store
                        is never re-clustered)
    → signatures_delta (the batch's signature rows; next night's store
                        signatures = store ∪ delta — append, not rewrite)

Scale notes / documented trades:
  * The store's signature table is scanned once per run (streamed through
    broadcast joins); its TEXT is touched only for candidate ids.
  * The batch's band join targets ALL store docs, not store
    representatives (computing reps would be a corpus-wide shuffle) — an
    old exact-dup group that shares bands fans candidates in, bounded by
    the band bucket cap; connectivity is unaffected because history's
    exact copies are already one cluster in the store.
  * ``cfg.boilerplate_min_docs`` is rejected here: corpus-frequency
    boilerplate stats are a full-corpus pass by definition; run it in the
    periodic full re-sign, not the nightly gate.

Each stage writes parquet + _MANIFEST.json under ``out_dir`` through the
same stage runner as NearDupPipeline (plans/stages.StageRunner): restart
loses no completed stage.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iamsystem_python_spark.operators import cc, dedup, signatures
from iamsystem_python_spark.plans.config import PipelineConfig
from iamsystem_python_spark.plans.stages import StageRunner, read_stage


def _incremental_band_candidates(
    new_sig: DataFrame, store_sig: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Batch-vs-(store ∪ batch) LSH band join: every new-new pair once,
    every new-old pair regardless of id order, never old-old. The store
    side is pre-filtered by a broadcast of the batch's distinct band keys,
    then the shared bucket cap applies to the UNION bucket size (the same
    population the full pipeline would cap for these keys)."""
    new_bands = new_sig.select("doc_id", F.explode("bands").alias("band_hash"))
    new_keys = new_bands.select("band_hash").distinct()
    store_hits = (
        store_sig.select("doc_id", F.explode("bands").alias("band_hash"))
        .join(F.broadcast(new_keys), "band_hash")
        .withColumn("side", F.lit("old"))
    )
    targets = new_bands.withColumn("side", F.lit("new")).unionByName(store_hits)
    w = Window.partitionBy("band_hash")
    capped = (
        targets.withColumn("bucket_size", F.count("*").over(w))
        .where(F.col("bucket_size") <= cfg.band_bucket_cap)
        .drop("bucket_size")
    )
    n = new_bands.alias("n")
    t = capped.alias("t")
    return (
        n.join(t, "band_hash")
        .where(
            (F.col("t.side") == "old") | (F.col("n.doc_id") < F.col("t.doc_id"))
        )
        .where(F.col("n.doc_id") != F.col("t.doc_id"))
        .select(
            F.least(F.col("n.doc_id"), F.col("t.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("t.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


def _incremental_simhash_candidates(
    new_sig: DataFrame, store_sig: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Batch-vs-(store ∪ batch) SimHash pigeonhole block join, same side
    rule as the band join; exact Hamming filter at candidate time."""

    def blocks(sig: DataFrame, side: str) -> DataFrame:
        return dedup.simhash_blocks(sig, cfg).withColumn("side", F.lit(side))

    new_blocks = blocks(new_sig, "new")
    new_keys = new_blocks.select("block_id", "block_value").distinct()
    store_hits = blocks(store_sig, "old").join(
        F.broadcast(new_keys), ["block_id", "block_value"]
    )
    targets = new_blocks.unionByName(store_hits)
    n, t = new_blocks.alias("n"), targets.alias("t")
    return (
        n.join(t, ["block_id", "block_value"])
        .where(
            (F.col("t.side") == "old") | (F.col("n.doc_id") < F.col("t.doc_id"))
        )
        .where(F.col("n.doc_id") != F.col("t.doc_id"))
        .where(
            F.bit_count(F.col("n.simhash").bitwiseXOR(F.col("t.simhash")))
            <= cfg.simhash_max_hamming
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("t.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("t.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


def _exact_edges(new_sig: DataFrame, store_sig: DataFrame) -> DataFrame:
    """Exact-duplicate edges for the batch, by content sha:
    new-new — each batch doc links to the batch's min doc per sha;
    new-old — each batch doc links to the STORE's min doc per matched sha
    (one edge suffices: history's copies are already one cluster)."""
    new_min = new_sig.groupBy("sha256").agg(F.min("doc_id").alias("rep"))
    nn = (
        new_sig.select("doc_id", "sha256")
        .join(new_min, "sha256")
        .where(F.col("doc_id") != F.col("rep"))
        .select(
            F.least("doc_id", "rep").alias("doc_a"),
            F.greatest("doc_id", "rep").alias("doc_b"),
        )
    )
    new_shas = new_sig.select("sha256").distinct()
    old_min = (
        store_sig.select("doc_id", "sha256")
        .join(F.broadcast(new_shas), "sha256")
        .groupBy("sha256")
        .agg(F.min("doc_id").alias("old_rep"))
    )
    no = (
        new_sig.select("doc_id", "sha256")
        .join(F.broadcast(old_min), "sha256")
        .select(
            F.least("doc_id", "old_rep").alias("doc_a"),
            F.greatest("doc_id", "old_rep").alias("doc_b"),
        )
    )
    return nn.union(no).distinct()


class IncrementalIngest:
    """Fold a new batch into a persisted near-dup store (see module doc).

    ``run`` returns the UPDATED cluster assignment and writes
    new_signatures / candidates / verified_pairs / new_pairs / clusters /
    signatures_delta stages (+ metrics.json) under ``out_dir``."""

    def __init__(
        self,
        cfg: PipelineConfig = PipelineConfig(),
        checkpoint_dir: Optional[str] = None,
    ):
        if cfg.boilerplate_min_docs is not None:
            raise ValueError(
                "boilerplate_min_docs needs corpus-frequency stats (a "
                "full-corpus pass); run it in the periodic full re-sign, "
                "not the incremental ingest"
            )
        self.cfg = cfg
        self.checkpoint_dir = checkpoint_dir

    def run(
        self,
        spark: SparkSession,
        new_df: DataFrame,
        store_dir: str,
        out_dir: str,
        hist_docs: Optional[DataFrame] = None,
        resume: bool = False,
    ) -> DataFrame:
        cfg = self.cfg
        stages = StageRunner(spark, out_dir, cfg, resume)

        store_sig = read_stage(spark, store_dir, "signatures")
        store_clusters = read_stage(spark, store_dir, "clusters")

        new_sig = stages.run(
            "new_signatures", lambda: signatures.add_signatures(new_df, cfg)
        )

        def candidates() -> DataFrame:
            reps = dedup.distinct_content_representatives(new_sig)
            return (
                _incremental_band_candidates(reps, store_sig, cfg)
                .union(_incremental_simhash_candidates(reps, store_sig, cfg))
                .distinct()
            )

        cand = stages.run("candidates", candidates)

        def verified_pairs() -> DataFrame:
            docs = signatures.with_doc_id(new_df).select("doc_id", "content")
            if hist_docs is not None:
                docs = docs.union(
                    signatures.with_doc_id(hist_docs).select("doc_id", "content")
                )
            else:
                new_ids = new_sig.select("doc_id")
                n_old = (
                    cand.select(F.col("doc_a").alias("doc_id"))
                    .union(cand.select(F.col("doc_b").alias("doc_id")))
                    .distinct()
                    .join(new_ids, "doc_id", "left_anti")
                    .limit(1)
                    .count()
                )
                if n_old:
                    raise ValueError(
                        "candidates touch historical docs — pass hist_docs "
                        "(text is read only for the candidate ids)"
                    )
            return dedup.verify_pairs_recompute(cand, docs, cfg)

        verified = stages.run("verified_pairs", verified_pairs)

        def new_pairs() -> DataFrame:
            exact = _exact_edges(new_sig, store_sig).withColumn(
                "jaccard", F.lit(1.0)
            )
            return (
                verified.select("doc_a", "doc_b", "jaccard")
                .union(exact)
                .distinct()
            )

        pairs = stages.run("new_pairs", new_pairs)

        cc_stats: Dict[str, object] = {}
        updated = stages.run(
            "clusters",
            lambda: cc.incremental_connected_components(
                store_clusters,
                pairs.select("doc_a", "doc_b"),
                checkpoint_dir=self.checkpoint_dir,
                stats=cc_stats,
            ),
            stats=cc_stats,
        )

        # roll-forward delta: next night's store signatures = store ∪ delta
        stages.run("signatures_delta", lambda: new_sig)

        stages.write_metrics()
        return updated
