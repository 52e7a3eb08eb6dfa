#!/usr/bin/env python
"""One-artifact "production config" run (VERDICT r04 task 8): the single
configuration a 100-TB deployment would copy, with every previously
separately-evidenced scale feature ACTIVE IN THE SAME RUN:

  * 10M-file deterministic synthetic corpus (sources/codegen, seed 42);
  * ``boilerplate_min_docs`` — boilerplate-aware signing (shared license
    headers / generated preambles stripped from the signed view; sha256
    integrity stays bound to raw content);
  * data-scaled shuffle partitions + AQE + periodic GC + striped
    spill dirs (bench.make_spark — the spill posture the 10M run needs);
  * after the full build, an incremental nightly batch folded into the
    persisted store via plans/ingest.IncrementalIngest (store is never
    re-shuffled; boilerplate stripping is full-corpus-statistical, so the
    nightly leg runs with it off, as IncrementalIngest enforces);
  * the dup-pair recall gate ASSERTED IN-RUN on a deterministic cluster
    sample: all intra-cluster ground-truth pairs from sampled planted
    clusters, exact shingle-Jaccard >= threshold computed on the SAME
    boilerplate-stripped signing view the pipeline signed (plus planted
    exact-dup pairs), recalled against the output cluster assignment;
    the run FAILS (exit 1) below 0.99;
  * per-row sha256 integrity spot check: the signatures stage's persisted
    sha256 must equal sha2(raw content) recomputed from the corpus on a
    sample (north-rule invariant).

Writes the full stage table + recall + integrity transcript to
BENCH/production_config_r5.json. Env knobs: PROD_ROWS (default 10M),
PROD_BATCH_ROWS (nightly batch, default 200k), PROD_WORK, PROD_OUT.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = int(os.environ.get("PROD_ROWS", "10000000"))
BATCH_ROWS = int(os.environ.get("PROD_BATCH_ROWS", "200000"))
WORK = os.environ.get("PROD_WORK", "/dev/shm/prod_config_r5")
OUT_JSON = os.environ.get(
    "PROD_OUT", os.path.join(REPO, "BENCH", "production_config_r5.json")
)
CLUSTER_SAMPLE_MOD = int(os.environ.get("PROD_SAMPLE_MOD", "199"))
BOILERPLATE_MIN_DOCS = int(os.environ.get("PROD_BOILERPLATE_MIN_DOCS", "1000"))


def main() -> None:
    import bench
    from pyspark.sql import functions as F

    from iamsystem_python_spark.operators import dedup
    from iamsystem_python_spark.plans.config import PipelineConfig
    from iamsystem_python_spark.plans.ingest import IncrementalIngest
    from iamsystem_python_spark.plans.pipeline import NearDupPipeline
    from iamsystem_python_spark.sources.codegen import generate_corpus_df

    # Memory budget (the r4 10M postmortem, re-learned the hard way this
    # round): the corpus + stage outputs + shuffle spill all live on tmpfs
    # = RAM, so a big JVM heap STARVES the data. 16g heap (bench default)
    # + striped spill is the proven 10M posture; a 48g heap OOM-killed the
    # JVM mid-signatures with 24 GB of corpus resident in /dev/shm.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    # spill to DISK only: tmpfs spill is RAM, and with the 24 GB corpus
    # already resident in /dev/shm the kernel OOM-killed two attempts
    # whose spill was striped across tmpfs (round-5 postmortem)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/tmp/spark_local")
    spark = bench.make_spark("32")
    out = {
        "rows": N_ROWS,
        "batch_rows": BATCH_ROWS,
        "host_probe_start_mb_s": bench.host_fresh_page_mb_s(),
    }

    # -- corpus (generation not timed; ground-truth cluster ids kept in a
    #    separate sampled parquet so the pipeline input matches production:
    #    no label column) --------------------------------------------------
    os.makedirs(WORK, exist_ok=True)
    # tmpfs is unevictable RAM: with the stripped signing view also
    # materialized there (~corpus-sized), keeping the RAW corpus on tmpfs
    # too leaves no headroom for the kernel workers — put it on disk
    # (overridable; it is read once per stage, sequentially)
    corpus_path = os.environ.get(
        "PROD_CORPUS_DIR", os.path.join(WORK, "corpus")
    )
    truth_path = os.path.join(WORK, "truth_sample")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        full = generate_corpus_df(spark, N_ROWS, seed=42, partitions=256)
        full.drop("cluster_id").write.mode("overwrite").parquet(corpus_path)
    # own guard: truth lives under WORK while the corpus may be elsewhere
    # (PROD_CORPUS_DIR) — a surviving corpus must not skip the truth write
    # and crash the recall gate hours later (round-5 review finding)
    if not os.path.exists(os.path.join(truth_path, "_SUCCESS")):
        # deterministic 1/MOD sample of PLANTED clusters (block ids) with
        # every member row — the recall denominator's source
        (
            generate_corpus_df(spark, N_ROWS, seed=42, partitions=256)
            .where(
                (F.col("cluster_id") >= 0)
                & (F.col("cluster_id") % CLUSTER_SAMPLE_MOD == 0)
            )
            .write.mode("overwrite")
            .parquet(truth_path)
        )
    corpus = spark.read.parquet(corpus_path)
    actual_rows = corpus.count()
    out["actual_rows"] = actual_rows

    shuffle_parts = max(32, min(1024, actual_rows // 20_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    out["shuffle_partitions"] = shuffle_parts
    cfg = PipelineConfig(
        shuffle_partitions=32,
        boilerplate_min_docs=BOILERPLATE_MIN_DOCS,
    )

    # -- full pipeline run -------------------------------------------------
    full_dir = os.path.join(WORK, "full")
    resume = os.environ.get("PROD_RESUME", "") == "1"
    if not resume:
        shutil.rmtree(full_dir, ignore_errors=True)
    t0 = time.time()
    clusters = NearDupPipeline(
        cfg, materialize_exact_groups=False, collect_bucket_stats=False,
    ).run(spark, corpus, full_dir, resume=resume)
    n_clustered = clusters.count()
    full_s = time.time() - t0
    out["full_run"] = {
        "seconds": round(full_s, 1),
        "files_per_sec": round(actual_rows / full_s, 1),
        "clustered_docs": n_clustered,
        "stage_metrics": json.load(open(os.path.join(full_dir, "metrics.json"))),
    }

    # -- in-run recall gate ------------------------------------------------
    from iamsystem_python_spark.operators.signatures import with_doc_id

    truth = with_doc_id(spark.read.parquet(truth_path)).persist()
    n_truth_docs = truth.count()
    tp = truth.select("cluster_id", "doc_id", F.sha2("content", 256).alias("raw_sha"))
    pairs = (
        tp.alias("a")
        .join(tp.alias("b"), "cluster_id")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.raw_sha") == F.col("b.raw_sha")).alias("exact"),
        )
        .persist()
    )
    # exact-dup truth pairs count unconditionally (jaccard 1.0 on any view);
    # near-dup truth pairs must clear the exact Jaccard threshold computed
    # on the SAME signing view (boilerplate-stripped) the pipeline used.
    # the SAME stripped view the pipeline signed — read back from the
    # materialized stage rather than re-running the strip
    src = spark.read.parquet(os.path.join(full_dir, "signing_view"))
    near_oracle = dedup.verify_pairs_recompute(
        pairs.where(~F.col("exact")).select("doc_a", "doc_b"), src, cfg
    ).select("doc_a", "doc_b")
    oracle = near_oracle.unionByName(
        pairs.where(F.col("exact")).select("doc_a", "doc_b")
    ).distinct().persist()
    n_oracle = oracle.count()
    labels = spark.read.parquet(os.path.join(full_dir, "clusters"))
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("cl_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cl_b")
    )
    n_hit = (
        oracle.join(la, "doc_a").join(lb, "doc_b")
        .where(F.col("cl_a") == F.col("cl_b"))
        .count()
    )
    recall = n_hit / max(n_oracle, 1)
    out["recall_gate"] = {
        "sampled_truth_docs": n_truth_docs,
        "oracle_pairs": n_oracle,
        "recalled_pairs": n_hit,
        "recall": round(recall, 6),
        "passed": recall >= 0.99,
    }

    # -- per-row sha256 integrity spot check (north-rule invariant) --------
    sig = spark.read.parquet(os.path.join(full_dir, "signatures"))
    sample_ids = truth.select("doc_id", F.sha2("content", 256).alias("want_sha"))
    n_bad = (
        sig.join(sample_ids, "doc_id")
        .where(F.col("sha256") != F.col("want_sha"))
        .count()
    )
    out["sha_integrity"] = {"checked": n_truth_docs, "mismatches": n_bad}

    # -- incremental nightly batch into the store --------------------------
    batch = generate_corpus_df(
        spark, BATCH_ROWS, seed=77, partitions=32
    ).drop("cluster_id")
    ingest_dir = os.path.join(WORK, "nightly")
    shutil.rmtree(ingest_dir, ignore_errors=True)
    inc_cfg = PipelineConfig(shuffle_partitions=32)
    t0 = time.time()
    upd = IncrementalIngest(inc_cfg).run(
        spark, batch, full_dir, ingest_dir, hist_docs=corpus
    )
    n_upd = upd.count()
    inc_s = time.time() - t0
    out["incremental_run"] = {
        "seconds": round(inc_s, 1),
        "batch_files_per_sec": round(BATCH_ROWS / inc_s, 1),
        "updated_cluster_rows": n_upd,
        "stage_metrics": json.load(
            open(os.path.join(ingest_dir, "metrics.json"))
        ),
    }
    out["host_probe_end_mb_s"] = bench.host_fresh_page_mb_s()
    ok = out["recall_gate"]["passed"] and n_bad == 0
    out["all_ok"] = bool(ok)
    with open(OUT_JSON, "w") as f:
        json.dump(out, f, indent=2, default=str)
    print(json.dumps({k: v for k, v in out.items()
                      if k not in ("full_run", "incremental_run")}))
    print(json.dumps({"full_seconds": out["full_run"]["seconds"],
                      "files_per_sec": out["full_run"]["files_per_sec"],
                      "inc_seconds": out["incremental_run"]["seconds"]}))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
