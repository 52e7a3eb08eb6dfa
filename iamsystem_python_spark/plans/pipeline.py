"""End-to-end near-duplicate detection + clustering pipeline, resumable.

Stage graph (north_rule):

  input(repo,path,commit,lang,content)
    → signing_view   (only when cfg.boilerplate_min_docs is set — then
                      always its own stage: strip lines in ≥min_docs
                      distinct docs before shingling; sha256 stays bound
                      to raw content — signatures.signing_view)
    → signatures     (mapInPandas kernel: shingles/MinHash/bands)
    → exact_groups   (sha256 groupBy)
    → candidates     (LSH band self-join on distinct-content
                      representatives only)
    → verified_pairs (exact Jaccard ≥ threshold)
    → all_pairs      (verified pairs ∪ exact edges: each exact copy links
                      to its representative by one edge, never expanded
                      to member × member pairs)
    → clusters       (connected components, checkpointed)
    → metrics        (per-stage row counts, bucket histograms)

Each stage writes parquet under ``<out>/<stage>/`` and a ``_MANIFEST.json``
with row count + config echo (plans/stages.StageRunner). ``resume=True``
skips any stage whose manifest exists — restart loses no completed stage
(BASELINE.md resumability target). The manifests of written and skipped
stages alike go to ``<out>/metrics.json``.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iamsystem_python_spark.operators import cc, dedup, signatures
from iamsystem_python_spark.plans.config import PipelineConfig
from iamsystem_python_spark.plans.stages import StageRunner


class NearDupPipeline:
    """Orchestrates the stage graph. ``run`` returns the cluster DataFrame
    and writes all intermediates + metrics under ``out_dir``."""

    def __init__(
        self,
        cfg: PipelineConfig = PipelineConfig(),
        materialize_exact_groups: bool = True,
        collect_bucket_stats: bool = True,
        checkpoint_dir: Optional[str] = None,
    ):
        self.cfg = cfg
        self.materialize_exact_groups = materialize_exact_groups
        self.collect_bucket_stats = collect_bucket_stats
        # reliable checkpoint location for the iterative CC stage (HDFS /
        # object store on a real cluster); None → localCheckpoint
        self.checkpoint_dir = checkpoint_dir

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        out_dir: str,
        resume: bool = False,
    ) -> DataFrame:
        cfg = self.cfg
        stages = StageRunner(spark, out_dir, cfg, resume)

        # signing view (boilerplate-aware strip): every text consumer
        # downstream — the signature kernel AND the Jaccard verification
        # recompute — sees the stripped view, while sha256 / exact groups
        # stay bound to raw content (signatures.signing_view). Its own
        # stage, so the strip's rebuild kernel and the signature kernel
        # never fuse into one task chain (two chained mapInPandas per task
        # double peak Python-worker memory), and a resumed run skips the
        # strip's plan-build actions.
        src = df
        if cfg.boilerplate_min_docs:
            src = stages.run(
                "signing_view", lambda: signatures.signing_view(df, cfg)
            )

        sig = stages.run(
            "signatures", lambda: signatures.add_signatures(src, cfg)
        )

        # exact groups: reporting artifact, derivable from signatures
        if self.materialize_exact_groups:
            stages.run("exact_groups", lambda: dedup.exact_dup_groups(sig))

        # candidates on distinct-content representatives only
        cand = stages.run(
            "candidates",
            lambda: dedup.lsh_candidate_pairs(
                dedup.distinct_content_representatives(sig), cfg
            ),
        )

        # verification must shingle the SAME view the signatures signed
        # (src): candidates selected on stripped text, verified on stripped
        # text — otherwise a stripped-candidate pair could be re-inflated by
        # its header at the exact-Jaccard gate.
        verified = stages.run(
            "verified_pairs",
            lambda: dedup.verify_pairs_recompute(
                cand, signatures.with_doc_id(src), cfg
            ),
        )

        # all pairs: representative-level verified pairs plus one exact
        # edge per copy — the CC needs nothing more, and the edge set stays
        # linear in the corpus however large an exact group grows
        pairs = stages.run(
            "all_pairs",
            lambda: verified.select("doc_a", "doc_b", "jaccard")
            .union(dedup.exact_edges(sig))
            .distinct(),
        )

        cc_stats: Dict[str, object] = {}
        clusters = stages.run(
            "clusters",
            lambda: cc.connected_components(
                pairs.select("doc_a", "doc_b"),
                checkpoint_dir=self.checkpoint_dir,
                stats=cc_stats,
            ),
            stats=cc_stats,
        )

        if self.collect_bucket_stats:
            stages.metrics["lsh_buckets"] = (
                dedup.lsh_bucket_stats(sig, cfg).collect()[0].asDict()
            )
        stages.write_metrics()
        return clusters


def brute_force_pairs(sig_df: DataFrame, threshold: float) -> DataFrame:
    """Oracle: ALL pairs with exact shingle-Jaccard ≥ threshold (O(n²) —
    small-scale only). This is the 'reference cluster assignment' oracle the
    recall≥0.99 metric compares against (BASELINE.md), in the shape of the
    pipeline's ``all_pairs``: near-dup pairs between content representatives
    plus one exact edge from each copy to its representative (identical
    content ⇒ jaccard 1.0). The exact edges are derived here, independent of
    ``dedup.exact_edges``.
    sig_df must carry shingles (add_signatures(..., include_shingles=True))."""
    reps = dedup.distinct_content_representatives(sig_df)
    a = reps.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = reps.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        # a doc with no shingles is a near-dup of nothing (the
        # verify_pairs_recompute rule): null Jaccard, and no DIVIDE_BY_ZERO
        # under ANSI mode
        .withColumn(
            "jaccard",
            F.when(union > 0, F.size(F.array_intersect("sh_a", "sh_b")) / union),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    exact_edges = (
        sig_df.select(
            F.col("doc_id").alias("doc_a"),
            F.min("doc_id").over(Window.partitionBy("sha256")).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return pairs.union(exact_edges).distinct()
