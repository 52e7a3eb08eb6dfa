"""Nightly incremental ingest against a persisted near-dup store.

The production loop at 10^12 files is NOT "re-run the pipeline on the
whole corpus plus tonight's batch" — it is: sign ONLY the batch, find the
batch's pairs against the store's fixed-width sketches, verify, and fold
the edges into the persisted cluster assignment. This runner is that loop,
built from the same operators the full `NearDupPipeline` uses:

  store (prior pipeline out_dir: signatures/ + clusters/)
    + new batch (repo, path, commit, lang, content)
    → new_signatures   (mapInPandas kernel over the BATCH only)
    → candidates       (dedup.lsh_candidate_pairs with the store: the
                        full build's LSH band pair function, batch vs
                        store ∪ batch through dedup.bucket_pairs — the
                        store side is pre-filtered by a broadcast of the
                        batch's band set, so the store table is ONE
                        streamed scan and no old-old pair is ever
                        generated)
    → exact edges      (dedup.exact_edges with the store — each new exact
                        copy links to the store's min doc per sha: ONE edge
                        is enough, history's copies are already clustered)
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
  * The store must be signed with the runner's signing config (the
    ``SIGNING_FIELDS`` of its ``signatures`` manifest echo): under any
    other seed, signature width, banding, shingle size or tokenizer the
    batch shares no band bucket with the store, so a mismatch is an error
    raised before any Spark job, never a silent recall loss.
  * ``cfg.boilerplate_min_docs`` is rejected here: corpus-frequency
    boilerplate stats are a full-corpus pass by definition; run it in the
    periodic full re-sign, not the nightly gate.

Each stage writes parquet + _MANIFEST.json under ``out_dir`` through the
same stage runner as NearDupPipeline (plans/stages.StageRunner): restart
loses no completed stage.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iamsystem_python_spark.operators import cc, dedup, signatures
from iamsystem_python_spark.plans.config import PipelineConfig
from iamsystem_python_spark.plans.stages import (
    StageRunner,
    read_manifest,
    read_stage,
)

# the PipelineConfig fields a signature depends on: a batch and a store
# signed under different values share no band bucket
SIGNING_FIELDS = ("seed", "num_perm", "num_bands", "shingle_k", "tokenizer")


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
        signed = read_manifest(store_dir, "signatures")["config"]
        mismatch = [
            f"{k}: store {signed.get(k)!r}, ingest {getattr(cfg, k)!r}"
            for k in SIGNING_FIELDS
            if signed.get(k) != getattr(cfg, k)
        ]
        if mismatch:
            raise ValueError(
                f"store {store_dir} was signed with another config "
                f"({'; '.join(mismatch)}); ingest with the store's config "
                "or re-sign the store"
            )
        stages = StageRunner(spark, out_dir, cfg, resume)

        store_sig = read_stage(spark, store_dir, "signatures")
        store_clusters = read_stage(spark, store_dir, "clusters")

        new_sig = stages.run(
            "new_signatures", lambda: signatures.add_signatures(new_df, cfg)
        )

        cand = stages.run(
            "candidates",
            lambda: dedup.lsh_candidate_pairs(
                dedup.distinct_content_representatives(new_sig), cfg, store_sig
            ),
        )

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

        pairs = stages.run(
            "new_pairs",
            lambda: verified.select("doc_a", "doc_b", "jaccard")
            .union(dedup.exact_edges(new_sig, store_sig))
            .distinct(),
        )

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
