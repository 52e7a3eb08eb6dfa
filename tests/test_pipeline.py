"""End-to-end dedup pipeline tests on the deterministic synthetic corpus:
candidate recall vs the exact-Jaccard oracle (the binding ≥0.99 metric),
sha256 integrity, planted-cluster sanity, and stage resume."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from iamsystem_python_spark.operators import dedup, signatures
from iamsystem_python_spark.operators.cc import connected_components
from iamsystem_python_spark.plans.config import PipelineConfig
from iamsystem_python_spark.plans.pipeline import NearDupPipeline, brute_force_pairs
from iamsystem_python_spark.sources.codegen import generate_corpus_df

N_ROWS = 1500
CFG = PipelineConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus_df(spark, N_ROWS, seed=42, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def clusters(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("neardup"))
    pipe = NearDupPipeline(CFG)
    clusters = pipe.run(spark, corpus.drop("cluster_id"), out)
    return out, clusters


def _pair_set(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_corpus_determinism(spark):
    a = generate_corpus_df(spark, 200, seed=42, partitions=4).orderBy("path").collect()
    b = generate_corpus_df(spark, 200, seed=42, partitions=2).orderBy("path").collect()
    assert a == b


def test_sha256_integrity(spark, corpus, clusters):
    """Per-row invariant: sha2(content,256) carried through the kernel equals
    a fresh JVM-side hash of the same content (BASELINE.json input_hint)."""
    out, _ = clusters
    sig = spark.read.parquet(f"{out}/signatures")
    fresh = corpus.select(
        F.sha2(F.concat("repo", "path", "commit"), 256).alias("doc_id"),
        F.sha2("content", 256).alias("sha_fresh"),
    )
    mism = (
        sig.join(fresh, "doc_id")
        .where(F.col("sha256") != F.col("sha_fresh"))
        .count()
    )
    assert mism == 0
    assert sig.count() == N_ROWS


def test_candidate_recall_vs_exact_jaccard_oracle(spark, corpus, clusters):
    """Dup-pair recall ≥ 0.99 vs brute-force exact-Jaccard pairs at the SAME
    shingle/signature config — the BASELINE.md binding metric. Both sides
    are representative-level near-dup pairs plus one exact edge per copy."""
    out, _ = clusters
    # oracle needs shingle sets — recompute full signatures (the pipeline's
    # stored stage intentionally omits them; see add_signatures docstring)
    sig = signatures.add_signatures(
        corpus.drop("cluster_id"), CFG, include_shingles=True
    ).cache()
    oracle = _pair_set(brute_force_pairs(sig, CFG.jaccard_threshold))
    ours = _pair_set(spark.read.parquet(f"{out}/all_pairs"))
    assert oracle, "oracle found no pairs — corpus misconfigured"
    recall = len(oracle & ours) / len(oracle)
    assert recall >= 0.99, f"recall {recall:.4f} over {len(oracle)} oracle pairs"
    # precision should also be perfect: every emitted pair is verified ≥ t
    extra = ours - oracle
    assert len(extra) / max(1, len(ours)) <= 0.01, f"{len(extra)} unverified extras"


def test_planted_clusters_found(spark, corpus, clusters):
    """Planted exact-dup clusters must be fully recovered in ONE engine
    cluster each; near-dup blocks mostly (mutations can legitimately fall
    below the jaccard threshold — those are not dups by definition)."""
    out, cl = clusters
    truth = corpus.where(F.col("cluster_id") >= 0).select(
        F.sha2(F.concat("repo", "path", "commit"), 256).alias("doc_id"),
        F.col("cluster_id").alias("truth_cluster"),
        F.sha2("content", 256).alias("sha"),
    )
    # exact blocks: >1 member, all identical content
    exact_blocks = (
        truth.groupBy("truth_cluster")
        .agg(F.countDistinct("sha").alias("n_sha"), F.count("*").alias("n"))
        .where((F.col("n_sha") == 1) & (F.col("n") > 1))
        .select("truth_cluster")
    )
    stats = (
        truth.join(exact_blocks, "truth_cluster")
        .join(cl, "doc_id", "left")
        .groupBy("truth_cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("cluster_id").alias("n_engine_clusters"),
            F.sum(F.when(F.col("cluster_id").isNull(), 1).otherwise(0)).alias("n_missing"),
        )
    )
    bad = stats.where(
        (F.col("n_engine_clusters") != 1) | (F.col("n_missing") > 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_resume_skips_completed_stages(spark, corpus, clusters, tmp_path):
    """Restart with resume=True: no stage recomputed (manifests intact)."""
    out, _ = clusters
    import json, os, time

    before = {}
    for stage in ["signatures", "candidates", "verified_pairs", "all_pairs", "clusters"]:
        p = os.path.join(out, stage, "_MANIFEST.json")
        before[stage] = os.path.getmtime(p)
    pipe = NearDupPipeline(CFG)
    pipe.run(spark, corpus.drop("cluster_id"), out, resume=True)
    for stage, mtime in before.items():
        p = os.path.join(out, stage, "_MANIFEST.json")
        assert os.path.getmtime(p) == mtime, f"stage {stage} was recomputed"


def test_connected_components_basic(spark):
    """CC on a known graph: {a-b, b-c}, {d-e}, singleton edge-less f absent."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], ["doc_a", "doc_b"]
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
    }


def test_connected_components_stats(spark):
    """stats dict surfaces the round count and convergence flag; a 40-node
    chain needs more rounds than a 2-edge graph but stays O(log n)."""
    small = spark.createDataFrame([("a", "b"), ("b", "c")], ["doc_a", "doc_b"])
    s1 = {}
    connected_components(small, stats=s1).collect()
    assert s1["cc_converged"] is True
    assert 1 <= s1["cc_rounds"] <= 3

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)], ["doc_a", "doc_b"]
    )
    s2 = {}
    connected_components(chain, stats=s2).collect()
    assert s2["cc_converged"] is True
    # alternating large/small star halves path lengths: log-bounded
    assert s2["cc_rounds"] <= 8


def test_connected_components_round_cap_is_an_error(spark):
    """A 40-node chain needs more than 2 rounds: hitting max_iterations
    raises instead of reading roots off an edge set that is not yet a star
    forest (which would split the component)."""
    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="max_iterations=2"):
        connected_components(chain, max_iterations=2)


def test_connected_components_chain(spark):
    """Long chain converges (log-round large/small star)."""
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], ["doc_a", "doc_b"]
    )
    cl = connected_components(edges)
    assert cl.select("cluster_id").distinct().count() == 1
    assert cl.count() == n + 1


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switch (VERDICT r1 #4): CC with reliable checkpoint()
    to a real directory produces identical assignments to the
    localCheckpoint default, and actually materializes checkpoint data."""
    import os

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("e", "f"), ("f", "a2")],
        ["doc_a", "doc_b"],
    )
    ckpt = str(tmp_path / "ckpt")
    got_local = {
        (r.doc_id, r.cluster_id) for r in connected_components(edges).collect()
    }
    got_reliable = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert got_local == got_reliable
    # reliable checkpoints were really written to disk
    ckpt_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert ckpt_files, "no checkpoint data written under checkpoint_dir"


def _cc_set(df):
    return {(r.doc_id, r.cluster_id) for r in df.collect()}


def test_incremental_cc_equals_full_cc(spark):
    """incremental_connected_components(store, new) ≡ CC(old ∪ new) on a
    graph exercising every delta shape at once: a two-cluster merge via a
    bridging new doc, a new-new only cluster, a previously-unclustered old
    doc joining, and an untouched cluster."""
    from iamsystem_python_spark.operators.cc import incremental_connected_components

    old = [("b", "c"), ("c", "d"), ("p", "q"), ("x", "y")]  # {b,c,d} {p,q} {x,y}
    # n1 bridges {b,c,d} and {p,q}; n2-n3 is new-new; "u" is an old doc the
    # store never saw (no prior pairs) joining {x,y} — x,y stays... no: it
    # joins, so the only untouched cluster is none → add one: {s,t}
    old.append(("s", "t"))
    new = [("d", "n1"), ("n1", "p"), ("n2", "n3"), ("u", "x")]
    old_df = spark.createDataFrame(old, ["doc_a", "doc_b"])
    new_df = spark.createDataFrame(new, ["doc_a", "doc_b"])
    store = connected_components(old_df)
    got = _cc_set(incremental_connected_components(store, new_df))
    want = _cc_set(connected_components(old_df.union(new_df)))
    assert got == want
    # untouched cluster kept its exact label
    assert ("s", "s") in got and ("t", "s") in got


def test_incremental_cc_new_min_relabels_cluster(spark):
    """A new doc whose id sorts below the old cluster minimum becomes the
    merged cluster's label — min semantics hold across the contraction."""
    from iamsystem_python_spark.operators.cc import incremental_connected_components

    old_df = spark.createDataFrame([("m", "n")], ["doc_a", "doc_b"])
    store = connected_components(old_df)
    assert _cc_set(store) == {("m", "m"), ("n", "m")}
    new_df = spark.createDataFrame([("a0", "n")], ["doc_a", "doc_b"])
    got = _cc_set(incremental_connected_components(store, new_df))
    assert got == {("m", "a0"), ("n", "a0"), ("a0", "a0")}


def test_incremental_cc_delta_stats_and_chain_merge(spark):
    """Chain of K old clusters merged by K-1 new bridge edges: the
    iterative contraction runs on the delta graph only (rounds stay
    log-bounded in the DELTA size) and every member lands on the global
    min label."""
    from iamsystem_python_spark.operators.cc import incremental_connected_components

    k = 12
    old = [(f"c{i:02d}a", f"c{i:02d}b") for i in range(k)]
    new = [(f"c{i:02d}b", f"c{i+1:02d}a") for i in range(k - 1)]
    store = connected_components(spark.createDataFrame(old, ["doc_a", "doc_b"]))
    stats = {}
    got = _cc_set(
        incremental_connected_components(
            store, spark.createDataFrame(new, ["doc_a", "doc_b"]), stats=stats
        )
    )
    assert got == {(f"c{i:02d}{s}", "c00a") for i in range(k) for s in "ab"}
    assert stats["cc_converged"] is True
    assert stats["cc_rounds"] <= 8


def test_stage_manifest_counts_without_reread(spark, tmp_path):
    """write_stage gets the row count from an Observation on the write job
    itself (VERDICT r1 #5): the manifest count is right, and the whole stage
    write is a single Spark job — a re-read count would need a second job."""
    from iamsystem_python_spark.plans.stages import write_stage

    df = spark.range(0, 1234).withColumn("x", F.col("id") * 2)
    sc = spark.sparkContext
    sc.setJobGroup("wstage_test", "write-stage job-count probe")
    try:
        manifest = write_stage(df, str(tmp_path), "probe", CFG)
    finally:
        sc.setJobGroup(None, None)
    assert manifest["rows"] == 1234
    jobs = sc.statusTracker().getJobIdsForGroup("wstage_test")
    assert len(jobs) == 1, f"expected 1 job (write only), got {len(jobs)}"
    # per-partition lineage comes from the written parquet footers, so it
    # must reconcile exactly with the Observation row count — and no extra
    # Spark job ran to produce it (asserted above)
    lineage = manifest["partitions"]
    assert lineage["n_files"] >= 1
    assert sum(p["rows"] for p in lineage["files"]) == 1234
    assert all(p["bytes"] > 0 for p in lineage["files"])
    assert lineage["rows_max"] >= lineage["rows_median"] >= 0
    assert lineage["skew_ratio"] >= 1.0


def test_partition_lineage_flags_planted_skew(spark, tmp_path):
    """A deliberately skewed repartition (all rows hashed to one key)
    surfaces in the manifest's skew_ratio."""
    from iamsystem_python_spark.plans.stages import write_stage

    df = spark.range(0, 5000).withColumn("k", F.lit(1)).repartition(8, "k")
    manifest = write_stage(df, str(tmp_path), "skewed", CFG)
    lineage = manifest["partitions"]
    assert lineage["rows_max"] == 5000  # everything landed in one partition
    assert lineage["skew_ratio"] >= 100 or lineage["n_files"] == 1


def test_band_bucket_cap_bounds_degenerate_skew(spark):
    """A degenerate LSH bucket (here: many near-identical docs sharing
    bands — the 'license header' pathology) must not explode into O(B²)
    pairs: with band_bucket_cap set below the clique size, the over-cap
    buckets are excluded from pair generation and surfaced in the metrics
    (n_capped_buckets > 0) instead of absorbing a shuffle partition."""
    from iamsystem_python_spark.operators.dedup import (
        lsh_bucket_stats,
        lsh_candidate_pairs,
    )
    from iamsystem_python_spark.operators.signatures import add_signatures
    from iamsystem_python_spark.plans.config import PipelineConfig

    # 60 docs with identical content (same bands, distinct doc_ids because
    # doc_id hashes repo/path) + a couple of genuinely distinct docs
    rows = [
        (f"repo_{i%3}", f"f{i}.py", "c1", "python", "def license_header(): return 42")
        for i in range(60)
    ] + [
        ("repo_x", "a.py", "c1", "python", "totally unrelated content one"),
        ("repo_x", "b.py", "c1", "python", "other unrelated content two"),
    ]
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])

    capped_cfg = PipelineConfig(shuffle_partitions=4, band_bucket_cap=10)
    sig = add_signatures(df, capped_cfg)
    stats = lsh_bucket_stats(sig, capped_cfg).collect()[0]
    assert stats.n_capped_buckets > 0
    assert stats.max_bucket >= 60
    n_capped_pairs = lsh_candidate_pairs(sig, capped_cfg).count()

    open_cfg = PipelineConfig(shuffle_partitions=4, band_bucket_cap=10_000)
    n_open_pairs = lsh_candidate_pairs(add_signatures(df, open_cfg), open_cfg).count()
    # uncapped: the 60-clique contributes C(60,2)=1770 pairs; capped: none
    assert n_open_pairs >= 1770
    assert n_capped_pairs < 100


def test_block_cap_bounds_quadratic_variants(spark):
    """Same backstop for the blocked all-pairs operators (VERDICT r1 #9): a
    block over max_block_size must contribute zero pairs instead of O(B²),
    while under-cap blocks are unaffected."""
    from iamsystem_python_spark.operators.dedup_text import ngram_jaccard_pairs
    from iamsystem_python_spark.operators.similarity import cosine_neardup_pairs

    # text: a 50-doc block of identical docs + a 2-doc block
    rows = [(f"d{i}", "alpha beta gamma delta epsilon", "big") for i in range(50)]
    rows += [("x1", "zeta eta theta iota kappa", "small"),
             ("x2", "zeta eta theta iota kappa", "small")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    open_pairs = ngram_jaccard_pairs(df, threshold=0.9).count()
    capped = ngram_jaccard_pairs(df, threshold=0.9, max_block_size=10)
    capped_rows = capped.collect()
    assert open_pairs >= 50 * 49 // 2
    assert {(r.doc_a, r.doc_b) for r in capped_rows} == {("x1", "x2")}

    # embeddings: 40-vector identical block + 2-vector block
    vrows = [(f"v{i}", [1.0, 0.0, 0.0], "big") for i in range(40)]
    vrows += [("w1", [0.0, 1.0, 0.0], "small"), ("w2", [0.0, 1.0, 0.0], "small")]
    vdf = spark.createDataFrame(vrows, ["vec_id", "embedding", "label"])
    open_v = cosine_neardup_pairs(vdf, threshold=0.99).count()
    capped_v = cosine_neardup_pairs(vdf, threshold=0.99, max_block_size=10).collect()
    assert open_v >= 40 * 39 // 2
    assert {(r.id_a, r.id_b) for r in capped_v} == {("w1", "w2")}


# (doc, bucket key, in store) — cap 3: k3 holds exactly cap rows, k4 one
# more; k1 is a singleton. With a store, k3/k2 plant new-old pairs with the
# old id on either side of the new one, kold an old-old pair, knew a
# new-new pair.
_PLANTED_BUCKETS = [
    ("a", "k3", True), ("b", "k3", False), ("c", "k3", True),
    ("d", "k2", False), ("e", "k2", True),
    ("f", "kold", True), ("g", "kold", True),
    ("h", "knew", False), ("i", "knew", False),
    ("j", "k4", False), ("k", "k4", True), ("l", "k4", False), ("m", "k4", True),
    ("n", "k1", False),
]


@pytest.mark.parametrize("with_store", [False, True], ids=["self", "store"])
def test_bucket_pairs_cap_order_and_side_rule(spark, with_store):
    """dedup.bucket_pairs, the one pair join: a bucket of exactly cap rows
    pairs, cap + 1 rows and singletons give no pair, ids come ordered with
    the payload following its id. With a store: no old-old pair, every
    new-old pair whatever the id order, each new-new pair once."""
    df = spark.createDataFrame(
        [(d, k, d.upper(), old) for d, k, old in _PLANTED_BUCKETS],
        "doc string, key string, p string, old boolean",
    )
    if with_store:
        pairs = dedup.bucket_pairs(
            df.where(~F.col("old")).drop("old"),
            "doc",
            "key",
            cap=3,
            store=df.where(F.col("old")).drop("old"),
        )
        want = [
            ("a", "b", "new-old"),
            ("b", "c", "new-old"),
            ("d", "e", "new-old"),
            ("h", "i", "new-new"),
        ]
    else:
        pairs = dedup.bucket_pairs(df.drop("old"), "doc", "key", cap=3).withColumn(
            "pair_side", F.lit(None)
        )
        want = [(a, b, None) for a, b in
                [("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"), ("f", "g"), ("h", "i")]]
    rows = pairs.select("doc_a", "doc_b", "pair_side", "p_a", "p_b").collect()
    assert sorted((r.doc_a, r.doc_b, r.pair_side) for r in rows) == want
    assert all((r.p_a, r.p_b) == (r.doc_a.upper(), r.doc_b.upper()) for r in rows)


def test_stage_seconds_cover_build(spark, tmp_path):
    """StageRunner times build() together with the write: a stage whose
    build runs an eager action (as the CC rounds or the boilerplate count
    do) reports at least that action's time in its manifest."""
    import time

    from iamsystem_python_spark.plans.stages import StageRunner

    pause = 3.0

    def build():
        spark.range(1).rdd.foreach(lambda _: time.sleep(pause))
        return spark.range(10)

    runner = StageRunner(spark, str(tmp_path), CFG)
    # warm-up: the first parquet write of a session alone can take seconds
    runner.run("warm", lambda: spark.range(10))
    runner.run("eager", build)
    assert runner.metrics["eager"]["seconds"] >= pause


# ---------------------------------------------------------------------------
# boilerplate-aware signing (cfg.boilerplate_min_docs → signatures.signing_view)
# ---------------------------------------------------------------------------

_BP_HEADER = "\n".join(
    f"// license clause {i} of the acme corp public header text" for i in range(50)
)


def _bp_corpus(spark):
    """5-doc input_hint-shaped corpus: a/b/e share a 50-line header over
    unrelated 3-line bodies (raw shingle Jaccard ≈ 0.87 — a false clone
    pair created purely by the header); c/d are 20-line bodies differing
    in one line (true near-dup, J ≈ 0.84) whose shared lines live in only
    TWO docs, i.e. below min_docs=3, so stripping must not touch them."""
    def body(tag, n):
        return "\n".join(
            f"def fn_{tag}_{i}(): return value_{tag} + offset_{i} * scale_{tag}"
            for i in range(n)
        )

    rows = [
        ("ra", "a.py", "c0", "py", _BP_HEADER + "\n" + body("aa", 3)),
        ("rb", "b.py", "c0", "py", _BP_HEADER + "\n" + body("bb", 3)),
        ("re", "e.py", "c0", "py", _BP_HEADER + "\n" + body("ee", 3)),
        ("rc", "c.py", "c0", "py", body("cc", 20)),
        ("rd", "d.py", "c0", "py",
         body("cc", 19) + "\ndef fn_dd_x(): return other_value * 3"),
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def _bp_doc_id(repo, path, commit="c0"):
    import hashlib

    return hashlib.sha256((repo + path + commit).encode()).hexdigest()


def test_signing_view_strips_header_keeps_raw_sha(spark):
    """signing_view: header lines (≥min_docs distinct docs) are stripped from
    content, but sha256 stays bound to the RAW bytes; doc_id matches the
    pipeline derivation; off (None) is the identity."""
    import hashlib

    df = _bp_corpus(spark)
    cfg = PipelineConfig(shuffle_partitions=4, boilerplate_min_docs=3)
    out = {r.path: r for r in signatures.signing_view(df, cfg).collect()}
    raw = {r.path: r.content for r in df.collect()}

    for path in ("a.py", "b.py", "e.py"):
        assert _BP_HEADER.splitlines()[0] not in out[path].content
        assert out[path].content == raw[path][len(_BP_HEADER) + 1:]
    for path in ("c.py", "d.py"):  # shared in only 2 docs < min_docs=3 → kept
        assert out[path].content == raw[path]
    for path, r in out.items():
        assert r.sha256 == hashlib.sha256(raw[path].encode()).hexdigest()
        assert r.doc_id == _bp_doc_id(r.repo, path)

    off = signatures.signing_view(df, PipelineConfig(shuffle_partitions=4))
    assert off is df


def test_boilerplate_signing_pipeline_end_to_end(spark, tmp_path):
    """Flagship pipeline with boilerplate_min_docs: the header-only false
    pairs (a,b,e) disappear, the true near-dup (c,d) survives, and the
    signatures stage's sha256 still matches a fresh hash of RAW content.
    Control: with stripping off the header pairs ARE emitted (proving the
    test would catch a no-op signing view)."""
    df = _bp_corpus(spark)
    a, b, e = (_bp_doc_id("ra", "a.py"), _bp_doc_id("rb", "b.py"),
               _bp_doc_id("re", "e.py"))
    c, d = _bp_doc_id("rc", "c.py"), _bp_doc_id("rd", "d.py")
    header_pairs = {tuple(sorted(p)) for p in [(a, b), (a, e), (b, e)]}

    raw_out = str(tmp_path / "raw")
    NearDupPipeline(PipelineConfig(shuffle_partitions=4)).run(spark, df, raw_out)
    raw_pairs = {
        tuple(sorted((r.doc_a, r.doc_b)))
        for r in spark.read.parquet(f"{raw_out}/all_pairs").collect()
    }
    assert header_pairs <= raw_pairs  # control: header alone fakes clones

    cfg = PipelineConfig(shuffle_partitions=4, boilerplate_min_docs=3)
    out = str(tmp_path / "stripped")
    NearDupPipeline(cfg).run(spark, df, out)
    pairs = {
        tuple(sorted((r.doc_a, r.doc_b)))
        for r in spark.read.parquet(f"{out}/all_pairs").collect()
    }
    assert (c, d) in pairs or (d, c) in pairs
    assert not (header_pairs & pairs)

    # integrity invariant: stage sha256 == fresh sha of RAW content
    sig = spark.read.parquet(f"{out}/signatures")
    fresh = df.select(
        F.sha2(F.concat("repo", "path", "commit"), 256).alias("doc_id"),
        F.sha2("content", 256).alias("sha_fresh"),
    )
    assert sig.join(fresh, "doc_id").where(
        F.col("sha256") != F.col("sha_fresh")
    ).count() == 0


def test_boilerplate_carry_cols_lines_only(spark):
    """carry_cols is a row-local projection passthrough — only defined for
    the lines segmenter (windows re-derives its own base frame)."""
    from iamsystem_python_spark.operators.dedup_text import boilerplate_removal

    df = spark.createDataFrame(
        [("d1", "x\ny", "m1"), ("d2", "x\nz", "m2")],
        ["doc_id", "text", "meta"],
    )
    got = {
        r.doc_id: r
        for r in boilerplate_removal(
            df, min_docs=2, segmenter="lines", carry_cols=("meta",)
        ).collect()
    }
    assert got["d1"].meta == "m1" and got["d2"].meta == "m2"
    assert got["d1"].cleaned_text == "y" and got["d2"].cleaned_text == "z"

    with pytest.raises(KeyError):
        boilerplate_removal(
            df, min_docs=2, segmenter="windows", carry_cols=("meta",)
        )


@pytest.mark.parametrize("rebuild", ["join", "broadcast"])
def test_boilerplate_carry_cols_rejects_text_col(spark, rebuild):
    """Carrying the text column itself is refused up front with a clear
    error on both rebuild strategies (the join path used to fail with an
    AnalysisException, the broadcast path selected the text twice)."""
    from iamsystem_python_spark.operators.dedup_text import boilerplate_removal

    df = spark.createDataFrame(
        [("d1", "x\ny", "m1"), ("d2", "x\nz", "m2")],
        ["doc_id", "text", "meta"],
    )
    with pytest.raises(ValueError, match="carry_cols"):
        boilerplate_removal(
            df, min_docs=2, carry_cols=("meta", "text"), rebuild=rebuild
        )


def _partition_sets(df):
    """Cluster assignment → set of frozenset components (+ label map)."""
    from collections import defaultdict

    comps = defaultdict(set)
    for r in df.collect():
        comps[r.cluster_id].add(r.doc_id)
    return {frozenset(v) for v in comps.values()}


def test_incremental_ingest_equals_full_rebuild(spark, corpus, tmp_path):
    """The nightly loop: full pipeline on 80% of the corpus → store;
    IncrementalIngest folds the remaining 20% in (signing ONLY the batch,
    historical text touched only for candidate ids) — the updated cluster
    partition equals a from-scratch full-corpus pipeline run's."""
    from iamsystem_python_spark.plans.ingest import IncrementalIngest

    docs = corpus.drop("cluster_id")
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5)) == 0
    old_docs, new_docs = docs.where(~split), docs.where(split)
    assert new_docs.count() > 0 and old_docs.count() > 0

    store = str(tmp_path / "store")
    NearDupPipeline(CFG).run(spark, old_docs, store)

    out = str(tmp_path / "ingest")
    updated = IncrementalIngest(CFG).run(
        spark, new_docs, store, out, hist_docs=old_docs
    )
    got = _partition_sets(updated)

    full_out = str(tmp_path / "full")
    full = NearDupPipeline(CFG).run(spark, docs, full_out)
    want = _partition_sets(full)
    assert got == want
    # labels are min-doc-id in both paths → assignments identical, not
    # just partition-equal
    assert {(r.doc_id, r.cluster_id) for r in updated.collect()} == {
        (r.doc_id, r.cluster_id) for r in full.collect()
    }


def test_incremental_ingest_resume_skips_stages(spark, corpus, tmp_path):
    """Same manifest-resume contract as the full pipeline: a resumed run
    recomputes nothing (manifest mtimes unchanged)."""
    import os

    from iamsystem_python_spark.plans.ingest import IncrementalIngest

    docs = corpus.drop("cluster_id")
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5)) == 0
    old_docs, new_docs = docs.where(~split), docs.where(split)
    store = str(tmp_path / "store2")
    NearDupPipeline(CFG).run(spark, old_docs, store)
    out = str(tmp_path / "ingest2")
    ing = IncrementalIngest(CFG)
    ing.run(spark, new_docs, store, out, hist_docs=old_docs)
    stages = [
        "new_signatures", "candidates", "verified_pairs", "new_pairs",
        "clusters", "signatures_delta",
    ]
    before = {
        s: os.path.getmtime(os.path.join(out, s, "_MANIFEST.json"))
        for s in stages
    }
    ing.run(spark, new_docs, store, out, hist_docs=old_docs, resume=True)
    for s, mtime in before.items():
        assert os.path.getmtime(os.path.join(out, s, "_MANIFEST.json")) == mtime, s


def test_incremental_ingest_requires_hist_docs_for_old_candidates(
    spark, corpus, tmp_path
):
    """Without hist_docs the run must refuse when candidates touch
    history (instead of silently verifying nothing)."""
    import pytest as _pytest

    from iamsystem_python_spark.plans.ingest import IncrementalIngest

    docs = corpus.drop("cluster_id")
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5)) == 0
    old_docs, new_docs = docs.where(~split), docs.where(split)
    store = str(tmp_path / "store3")
    NearDupPipeline(CFG).run(spark, old_docs, store)
    with _pytest.raises(ValueError, match="hist_docs"):
        IncrementalIngest(CFG).run(
            spark, new_docs, store, str(tmp_path / "ingest3")
        )


def test_incremental_ingest_rejects_store_signed_with_other_config(
    spark, tmp_path
):
    """A store signed under another seed shares no band bucket with the
    batch: the ingest must refuse it, naming the field, instead of silently
    finding no candidates."""
    from iamsystem_python_spark.plans.ingest import IncrementalIngest

    docs = generate_corpus_df(spark, 40, seed=7, partitions=2).drop("cluster_id")
    store = str(tmp_path / "store")
    NearDupPipeline(PipelineConfig(shuffle_partitions=2, seed=7)).run(
        spark, docs, store
    )
    with pytest.raises(ValueError, match="seed: store 7, ingest 42"):
        IncrementalIngest(PipelineConfig(shuffle_partitions=2, seed=42)).run(
            spark, docs.limit(5), store, str(tmp_path / "ingest"), hist_docs=docs
        )


def test_incremental_ingest_rejects_boilerplate_config():
    import pytest as _pytest

    from iamsystem_python_spark.plans.ingest import IncrementalIngest

    with _pytest.raises(ValueError, match="boilerplate"):
        IncrementalIngest(PipelineConfig(boilerplate_min_docs=2))


def _uf_components(edges):
    """Independent union-find oracle: {doc_id: min-id-of-component} over
    every node that appears in an edge."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        lo = min(members)
        for m in members:
            out[m] = lo
    return out


@pytest.mark.parametrize(
    "seed,n_nodes,n_edges",
    [(1, 60, 20), (2, 60, 55), (3, 60, 150), (4, 200, 120)],
)
def test_connected_components_matches_union_find(spark, seed, n_nodes, n_edges):
    """Randomized differential: large/small-star CC equals an independent
    union-find on random graphs across the density spectrum (fragmented,
    near-critical ~1 edge/node, dense, and a larger sparse graph) incl.
    self-loops and duplicate edges."""
    import random as _random

    rng = _random.Random(seed)
    edges = [
        (f"d{rng.randrange(n_nodes):03d}", f"d{rng.randrange(n_nodes):03d}")
        for _ in range(n_edges)
    ]
    edges += [(a, b) for (a, b) in edges[:5]]  # duplicates
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    rows = connected_components(df).collect()
    assert len(rows) == len({r.doc_id for r in rows})  # one row per doc_id
    got = {(r.doc_id, r.cluster_id) for r in rows}
    assert got == set(_uf_components(edges).items())


def test_connected_components_keeps_self_loop_node(spark):
    """A node whose only edge is a self-loop is its own component; a
    self-loop on a node with other edges does not change its root."""
    edges = [("a", "a"), ("b", "c"), ("c", "c")]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = sorted(tuple(r) for r in connected_components(df).collect())
    assert got == [("a", "a"), ("b", "b"), ("c", "b")]
    assert set(got) == set(_uf_components(edges).items())


@pytest.mark.parametrize("seed", [11, 12])
def test_incremental_cc_matches_full_on_random_split(spark, seed):
    """Randomized differential for the cluster-store maintenance path:
    split a random edge list into yesterday's edges and today's batch
    (with ids disjointly suffixed so new-new, new-old and old-old delta
    shapes all occur), then incremental(store, batch) ≡ full CC(union)."""
    import random as _random

    from iamsystem_python_spark.operators.cc import (
        incremental_connected_components,
    )

    rng = _random.Random(seed)
    old_edges = [
        (f"o{rng.randrange(50):02d}", f"o{rng.randrange(50):02d}")
        for _ in range(40)
    ]
    new_edges = [
        (
            rng.choice(["o", "n"]) + f"{rng.randrange(50):02d}",
            rng.choice(["o", "n"]) + f"{rng.randrange(50):02d}",
        )
        for _ in range(30)
    ]
    old_df = spark.createDataFrame(old_edges, ["doc_a", "doc_b"])
    new_df = spark.createDataFrame(new_edges, ["doc_a", "doc_b"])
    store = connected_components(old_df)
    got = _cc_set(incremental_connected_components(store, new_df))
    want = _cc_set(connected_components(old_df.union(new_df)))
    assert got == want
    assert got == set(_uf_components(old_edges + new_edges).items())


def test_stream_crash_kill9_restart_differential(tmp_path):
    """VERDICT r04 task 3: real-process kill -9 mid-micro-batch +
    checkpoint-restart differential for streaming_chunk_dedup and
    streaming_token_mixture (scripts/stream_crash_demo.py, small config).
    The demo exits non-zero unless, for BOTH operators: the child was
    SIGKILLed while a micro-batch had an offsets entry but no commit
    (genuinely mid-batch), the crashed+resumed verdict set is row-identical
    to an unkilled clean run, chunk_dedup equals its pure-Python replay and
    batch-twin drop counts, and token_mixture's quotas never double-fill.
    ~2 min: 6 child Spark sessions (3 legs x 2 ops) + the compare session.
    The full-size transcript is BENCH/stream_crash_r5.json."""
    import json as _json
    import os as _os
    import subprocess as _sp
    import sys as _sys

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    out_json = str(tmp_path / "stream_crash_small.json")
    env = dict(
        _os.environ,
        STREAM_CRASH_WORK=str(tmp_path / "work"),
        STREAM_CRASH_OUT=out_json,
        STREAM_CRASH_FILES="4",
        STREAM_CRASH_DOCS="2000",
        STREAM_CRASH_KILL_BATCH="1",
    )
    p = _sp.run(
        [_sys.executable, _os.path.join(repo, "scripts", "stream_crash_demo.py")],
        capture_output=True, text=True, env=env, cwd=repo, timeout=1800,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-2000:]
    res = _json.load(open(out_json))
    assert res["all_ok"]
    for op in res["ops"]:
        assert op["crash"]["killed_mid_batch"] is not None
        assert op["compare"]["clean_eq_resumed"]


def test_signing_view_stage_and_resume(spark, tmp_path):
    """With boilerplate_min_docs set, the pipeline writes the stripped view
    as its own manifest-carrying stage (one Python kernel per stage — the
    10M OOM fix) and a resumed run skips the strip. The pipeline's results
    on the stripped view are checked by
    test_boilerplate_signing_pipeline_end_to_end."""
    import json as _json
    import os as _os

    rows = [
        ("r1", "a.py", "c1", "py", "# HDR\n# HDR2\nuniq one two three"),
        ("r2", "b.py", "c1", "py", "# HDR\n# HDR2\nother words here"),
        ("r3", "c.py", "c1", "py", "# HDR\n# HDR2\nuniq one two three"),
    ]
    df = spark.createDataFrame(
        rows, ["repo", "path", "commit", "lang", "content"]
    )
    cfg = PipelineConfig(shuffle_partitions=4, boilerplate_min_docs=2)
    out = str(tmp_path / "staged")
    pipe = NearDupPipeline(
        cfg, materialize_exact_groups=False, collect_bucket_stats=False
    )
    pipe.run(spark, df, out)
    man = _os.path.join(out, "signing_view", "_MANIFEST.json")
    assert _os.path.exists(man)
    sv = spark.read.parquet(_os.path.join(out, "signing_view")).collect()
    assert len(sv) == 3
    assert not any("HDR" in r.content for r in sv)  # stripped
    mtime = _os.path.getmtime(man)
    # resume: the signing_view stage (and all others) must be skipped
    pipe.run(spark, df, out, resume=True)
    assert _os.path.getmtime(man) == mtime
    with open(_os.path.join(out, "metrics.json")) as f:
        assert _json.load(f)["signing_view"]["rows"] == 3


@pytest.mark.parametrize("runner", ["NearDupPipeline", "IncrementalIngest"])
def test_resume_keeps_stage_metrics(spark, tmp_path, runner):
    """A resumed run's metrics.json still reports every stage — the skipped
    ones from their manifests — and the CC round count of the clusters
    stage, which the resumed run did not recompute."""
    import json as _json
    import os as _os

    from iamsystem_python_spark.plans.ingest import IncrementalIngest

    docs = generate_corpus_df(spark, 400, seed=7, partitions=4).drop("cluster_id")
    out = str(tmp_path / "out")
    if runner == "NearDupPipeline":

        def run(resume):
            NearDupPipeline(CFG).run(spark, docs, out, resume=resume)

    else:
        split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(5)) == 0
        old_docs, new_docs = docs.where(~split), docs.where(split)
        store = str(tmp_path / "store")
        NearDupPipeline(CFG).run(spark, old_docs, store)

        def run(resume):
            IncrementalIngest(CFG).run(
                spark, new_docs, store, out, hist_docs=old_docs, resume=resume
            )

    def metrics():
        with open(_os.path.join(out, "metrics.json")) as f:
            return _json.load(f)

    run(False)
    fresh = metrics()
    run(True)
    resumed = metrics()
    assert set(resumed) == set(fresh)
    assert resumed["clusters"]["cc_rounds"] == fresh["clusters"]["cc_rounds"] >= 1
    for stage, manifest in fresh.items():
        if "stage" in manifest:
            assert resumed[stage] == manifest, stage


def test_tokenless_docs_are_near_dups_of_nothing(spark, tmp_path):
    """One rule for docs with no shingles, in the pipeline and its oracle: a
    token-less doc is a near-dup of nothing, so two "" docs link only as
    identical bytes (exact edge) and whitespace-only / null content link to
    nothing — although every token-less doc shares all band buckets (the
    all-max sentinel signature). The oracle must score the same rows
    without dividing by an empty union."""

    def body(n, last=None):
        lines = [f"def fn_{i}(): return value_{i} + offset * scale" for i in range(n)]
        return "\n".join(lines + ([last] if last else []))

    rows = [
        ("r", "e1.py", "c0", "py", ""),
        ("r", "e2.py", "c0", "py", ""),
        ("r", "ws.py", "c0", "py", "   \n\t  \n"),
        ("r", "nul.py", "c0", "py", None),
        ("r", "n1.py", "c0", "py", body(20)),
        ("r", "n2.py", "c0", "py", body(19, "def other(): return 3")),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    cfg = PipelineConfig(shuffle_partitions=4)
    out = str(tmp_path / "out")
    NearDupPipeline(
        cfg, materialize_exact_groups=False, collect_bucket_stats=False
    ).run(spark, df, out)

    def pair(x, y):
        return tuple(sorted((_bp_doc_id("r", x), _bp_doc_id("r", y))))

    expected = {pair("e1.py", "e2.py"), pair("n1.py", "n2.py")}
    assert _pair_set(spark.read.parquet(f"{out}/all_pairs")) == expected
    sig = signatures.add_signatures(df, cfg, include_shingles=True)
    assert _pair_set(brute_force_pairs(sig, cfg.jaccard_threshold)) == expected


def _lines(n, changed=None):
    lines = [f"def fn_{i}(): return value_{i} + offset * scale" for i in range(n)]
    if changed is not None:
        lines[changed] = "def other(): return 3"
    return "\n".join(lines)


def test_all_pairs_links_exact_copies_to_representative(spark, tmp_path):
    """100 copies of A plus 100 copies of A′ (A with one line changed): one
    verified pair between the two representatives, and each copy links to
    its representative by one exact edge — 198 + 1 = 199 rows, never the
    10,198 member × member rows of an expansion through exact groups. The
    CC still puts all 200 docs in one cluster."""
    a, a2 = _lines(40), _lines(40, changed=20)
    rows = [("r", f"a{i}.py", "c0", "py", a) for i in range(100)] + [
        ("r", f"b{i}.py", "c0", "py", a2) for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path / "out")
    clusters = NearDupPipeline(
        PipelineConfig(shuffle_partitions=4),
        materialize_exact_groups=False,
        collect_bucket_stats=False,
    ).run(spark, df, out)
    assert spark.read.parquet(f"{out}/verified_pairs").count() == 1
    assert spark.read.parquet(f"{out}/all_pairs").count() == 199
    got = clusters.agg(
        F.count("*").alias("docs"), F.countDistinct("cluster_id").alias("clusters")
    ).collect()[0]
    assert (got.docs, got.clusters) == (200, 1)


def test_null_key_column_is_an_error(spark, tmp_path):
    """A file with a null commit has no doc_id: the run fails, rather than
    the file silently dropping out of ``clusters``."""
    rows = [
        ("r", "n1.py", "c0", "py", _lines(20)),
        ("r", "n2.py", "c0", "py", _lines(20, changed=5)),
        ("r", "n3.py", None, "py", _lines(20, changed=10)),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    with pytest.raises(Exception, match="doc_id: null repo, path or commit"):
        NearDupPipeline(
            PipelineConfig(shuffle_partitions=4),
            materialize_exact_groups=False,
            collect_bucket_stats=False,
        ).run(spark, df, str(tmp_path / "out"))
