"""Per-layer metrics of the traced run: driver-side microcalls into
``functions.hashing``, ``core.tokenize`` and ``core.matcher`` on a fixed
seeded sample of the workload's own inputs, and the stage figures the
``plans`` layer writes next to each stage (``_MANIFEST.json``,
``metrics.json``)."""

from __future__ import annotations

import json
import os
import statistics
import time
from typing import Callable, Dict, List, Tuple

from workloads import ALL_STAGES, annotate_inputs, build_matcher, read_manifests

MIN_CALL_S = 0.2  # each microcall repeats until it has run this long


def _rate(tracer, name: str, fn: Callable[[], object], n_docs: int) -> float:
    with tracer.span(name, docs=n_docs):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            elapsed = time.perf_counter() - t0
            if reps >= 3 and elapsed >= MIN_CALL_S:
                return n_docs * reps / elapsed


def microcall_metrics(texts: List[str], seed: int, tracer) -> Dict[str, float]:
    import numpy as np

    from iamsystem_python_spark.core.tokenize import code_tokenizer
    from iamsystem_python_spark.functions import hashing
    from iamsystem_python_spark.plans.config import PipelineConfig

    cfg = PipelineConfig()
    n = len(texts)
    tok = code_tokenizer()
    out = {
        "core.tokenize.norm_tokens_fast.docs_per_s": _rate(
            tracer, "core.tokenize.norm_tokens_fast",
            lambda: [tok.norm_tokens_fast(t) for t in texts], n,
        )
    }
    idmap = hashing.TokenIdMap()
    ids = [idmap.ids(tok.norm_tokens_fast(t)) for t in texts]
    shingles = [np.unique(hashing.shingle_hashes(i, cfg.shingle_k)) for i in ids]
    a, b = hashing.minhash_params(cfg.num_perm, cfg.seed)
    sigs = hashing.minhash_batch(shingles, a, b)
    calls: List[Tuple[str, Callable[[], object]]] = [
        ("shingle_hashes", lambda: [hashing.shingle_hashes(i, cfg.shingle_k) for i in ids]),
        ("minhash_batch", lambda: hashing.minhash_batch(shingles, a, b)),
        ("simhash_batch", lambda: hashing.simhash_batch(shingles)),
        ("band_hashes_batch", lambda: hashing.band_hashes_batch(sigs, cfg.num_bands)),
    ]
    for name, fn in calls:
        out[f"functions.hashing.{name}.docs_per_s"] = _rate(
            tracer, f"functions.hashing.{name}", fn, n
        )

    _, keywords, abbrevs, _ = annotate_inputs(seed, 0)
    builds = []
    with tracer.span("core.matcher.build"):
        for _ in range(5):
            t0 = time.perf_counter()
            matcher = build_matcher(keywords, abbrevs)
            builds.append(time.perf_counter() - t0)
    out["core.matcher.build_s"] = statistics.median(builds)
    out["core.matcher.annot_text.docs_per_s"] = _rate(
        tracer, "core.matcher.annot_text",
        lambda: [matcher.annot_text(t) for t in texts], n,
    )
    return out


def plan_metrics(out_dir: str, runner_s: float) -> Tuple[Dict[str, float], List[str]]:
    """Stage seconds, rows and partition skew from the stage manifests, the
    driver time outside every stage, the verify yield and the CC rounds.
    A stage the workload's runner does not write reads 0."""
    manifests = read_manifests(out_dir)
    notes = []
    out: Dict[str, float] = {}
    for stage in ALL_STAGES:
        m = manifests.get(stage)
        skew = (m or {}).get("partitions", {}).get("skew_ratio")
        if m is not None and skew is None:
            notes.append(f"plans.stage.{stage}.skew_ratio: no partition lineage (pyarrow missing)")
        out[f"plans.stage.{stage}.s"] = m["seconds"] if m else 0.0
        out[f"plans.stage.{stage}.rows"] = m["rows"] if m else 0
        out[f"plans.stage.{stage}.skew_ratio"] = skew or 0.0
    missing = [s for s in ALL_STAGES if s not in manifests]
    if missing:
        notes.append(f"plans.stage.*: not written by this workload, reported as 0: {', '.join(missing)}")
    if manifests:
        out["plans.driver_overhead_s"] = runner_s - sum(m["seconds"] for m in manifests.values())
    else:
        out["plans.driver_overhead_s"] = 0.0
        notes.append("plans.driver_overhead_s: no plans runner in this workload, reported as 0")
    cand, ver = manifests.get("candidates"), manifests.get("verified_pairs")
    out["operators.dedup.candidate_yield"] = (
        ver["rows"] / cand["rows"] if cand and ver and cand["rows"] else 0.0
    )
    rounds = 0
    metrics_path = os.path.join(out_dir, "metrics.json")
    if os.path.exists(metrics_path):
        with open(metrics_path) as f:
            rounds = json.load(f).get("clusters", {}).get("cc_rounds", 0)
    if not cand:
        notes.append("operators.dedup.candidate_yield, operators.cc.rounds: no dedup in this workload, reported as 0")
    out["operators.cc.rounds"] = rounds
    return out, notes
