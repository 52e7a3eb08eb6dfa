"""Resumable stage runner shared by the plans runners (NearDupPipeline,
IncrementalIngest).

A stage is a named DataFrame written as parquet under ``<out>/<stage>/``
next to a ``_MANIFEST.json`` (stage, rows, seconds, config echo,
per-partition lineage). ``StageRunner.run(name, build)`` either skips the
stage — ``resume=True`` and its manifest exists — or builds and writes it;
either way the manifest lands in ``metrics`` and the stage is read back
from disk, so downstream stages always consume the persisted result and a
restart loses no completed stage. ``write_metrics`` dumps the collected
manifests to ``<out>/metrics.json`` once at the end of a run, so a resumed
run reports the stages it skipped as well as the ones it wrote.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from iamsystem_python_spark.plans.config import PipelineConfig


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage, "_MANIFEST.json")


def partition_lineage(path: str) -> Dict:
    """Per-partition manifest block for a just-written parquet stage:
    row count + byte size per part-file (parquet footer metadata only —
    the data pages are never read), plus summary skew indicators. At
    cluster scale the footer reads are O(#files) driver-side metadata
    calls, the same cost class as the file listing the write itself did.

    pyarrow is an optional pyspark dependency: when absent, return a
    null lineage block instead of raising AFTER the expensive stage
    write succeeded — the manifest (and stage resumability) must never
    be lost to a missing diagnostics library (ADVICE r04)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return {"n_files": None, "unavailable": "pyarrow not installed"}

    parts = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(path, name)
        parts.append(
            {
                "file": name,
                "rows": pq.read_metadata(f).num_rows,
                "bytes": os.path.getsize(f),
            }
        )
    rows = sorted(p["rows"] for p in parts) or [0]
    med = rows[(len(rows) - 1) // 2]  # lower-middle: empty partitions count
    return {
        "n_files": len(parts),
        "rows_max": rows[-1],
        "rows_median": med,
        # max/median is the straggler early-warning; 1.0 = perfectly even
        "skew_ratio": round(rows[-1] / max(med, 1), 3),
        "files": parts,
    }


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    cfg: PipelineConfig,
    stats: Optional[Dict] = None,
    started: Optional[float] = None,
) -> Dict:
    """Write ``df`` as stage ``stage`` and its manifest; ``stats`` (e.g. the
    CC round count) is merged into the manifest so it survives a resume.
    The manifest's ``seconds`` run from ``started`` (default: now), so a
    caller that built ``df`` eagerly can count the build too."""
    path = os.path.join(out_dir, stage)
    t0 = time.time() if started is None else started
    # Row count via an Observation piggybacked on the write action — the
    # count is collected from the write job's own metrics, so the stage is
    # never re-read (a second full read of every intermediate would be an
    # extra 100-TB-scale scan per stage).
    obs = Observation(f"stage_{stage}")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    n = int(obs.get["rows"])
    manifest = {
        "stage": stage,
        "rows": n,
        "seconds": round(time.time() - t0, 3),
        "config": asdict(cfg),
        # per-partition lineage: one entry per written part-file, rows and
        # bytes read from the parquet FOOTERS of the files just written —
        # no second scan of the data. This is the skew audit trail: a hot
        # LSH band or a mega-repo shows up as one oversized partition here
        # long before it shows up as a straggler task downstream.
        "partitions": partition_lineage(path),
        **(stats or {}),
    }
    with open(_manifest_path(out_dir, stage), "w") as f:
        json.dump(manifest, f, indent=2, default=str)
    return manifest


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, stage))


def read_manifest(out_dir: str, stage: str) -> Dict:
    with open(_manifest_path(out_dir, stage)) as f:
        return json.load(f)


class StageRunner:
    """Skip-or-write each stage of one run under ``out_dir`` and collect
    the stage manifests into ``metrics``."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        cfg: PipelineConfig,
        resume: bool = False,
    ):
        os.makedirs(out_dir, exist_ok=True)
        self.spark = spark
        self.out_dir = out_dir
        self.cfg = cfg
        self.resume = resume
        self.metrics: Dict[str, Dict] = {}

    def run(
        self,
        name: str,
        build: Callable[[], DataFrame],
        stats: Optional[Dict] = None,
    ) -> DataFrame:
        """Return stage ``name`` read back from disk. ``build`` is called
        only when the stage is (re)written, so a resumed run never pays for
        the plan-build actions of a stage it skips; ``stats`` is a dict
        ``build`` fills, stored in the manifest."""
        if self.resume and os.path.exists(_manifest_path(self.out_dir, name)):
            self.metrics[name] = read_manifest(self.out_dir, name)
        else:
            # the clock covers build() too: eager build work (CC rounds,
            # the boilerplate count) belongs to the stage, not the driver
            t0 = time.time()
            df = build()
            self.metrics[name] = write_stage(
                df, self.out_dir, name, self.cfg, stats, started=t0
            )
        return read_stage(self.spark, self.out_dir, name)

    def write_metrics(self) -> None:
        with open(os.path.join(self.out_dir, "metrics.json"), "w") as f:
            json.dump(self.metrics, f, indent=2, default=str)
