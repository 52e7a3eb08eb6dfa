"""Signature stage: content → tokens → shingles → MinHash + LSH bands, in
ONE ``mapInPandas`` pass (one Arrow batch in, one out; zero per-row Python
at the Spark layer).

This is the engine's re-expression of the reference's hot path
(annot_text, /root/reference/src/iamsystem/matcher/matcher.py:291-301):
tokenize (tokenize.py:47-81) feeds a *window* stage — there a trie walk,
here k-token shingles + signatures (SURVEY.md §2-C).

Scale notes:
- executed after ``repartition(xxhash64(repo, path))`` so mega-repo skew is
  spread before the CPU-heavy stage;
- per-batch token-id memoization (TokenIdMap) amortizes hashing over
  repeated identifiers, the in-kernel analogue of CacheFuzzyAlgos
  (fuzzy/cache.py:18-66);
- only DISTINCT content should flow in at scale (dedup exact first via
  sha256 groupBy) — the pipeline (plans/pipeline.py) does this.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iamsystem_python_spark.functions.hashing import (
    TokenIdMap,
    band_hashes_batch,
    minhash_batch,
    minhash_params,
    shingle_hashes,
)
from iamsystem_python_spark.plans.config import PipelineConfig

_BASE_FIELDS = [
    T.StructField("doc_id", T.StringType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("bands", T.ArrayType(T.LongType())),
]

SIGNATURE_SCHEMA = T.StructType(_BASE_FIELDS)
SIGNATURE_SCHEMA_FULL = T.StructType(
    _BASE_FIELDS + [T.StructField("shingles", T.ArrayType(T.LongType()))]
)


def with_doc_id(df: DataFrame) -> DataFrame:
    """Attach ``doc_id`` = sha2(repo||path||commit) — the one doc identity
    every stage and runner keys on. An existing ``doc_id`` column wins, so
    a view that already carries one (signing_view's output) keeps it.

    A null ``repo``, ``path`` or ``commit`` fails the job that first
    evaluates the id: a null id could pair with nothing and would drop out
    of ``clusters`` unseen. ``coalesce`` evaluates ``raise_error`` only for
    such rows, so the check costs no extra Spark job."""
    if "doc_id" in df.columns:
        return df
    return df.withColumn(
        "doc_id",
        F.coalesce(
            F.sha2(F.concat("repo", "path", "commit"), 256),
            F.raise_error(F.lit("doc_id: null repo, path or commit")),
        ),
    )


def signing_view(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The text view the signature stage signs when boilerplate-aware
    signing is on (cfg.boilerplate_min_docs): lines occurring in ≥min_docs
    DISTINCT documents are stripped from ``content`` BEFORE shingling, so
    a shared license header or generated preamble cannot by itself push
    two unrelated files over the Jaccard threshold. Returns the input
    columns with ``content`` replaced by the stripped text plus two
    precomputed columns ``add_signatures`` respects instead of rederiving:

    - ``sha256`` = sha2(RAW content) — the per-row integrity invariant
      stays bound to the bytes that entered the pipeline, never to the
      stripped view;
    - ``doc_id`` — :func:`with_doc_id`, as in add_signatures.

    Transport: the strip is operators/dedup_text.boilerplate_removal with
    carry_cols, so repo/path/commit/lang/sha ride the row-local base
    projection — no join back onto the corpus, text still never crosses a
    shuffle. cfg.boilerplate_min_docs=None returns df unchanged."""
    from iamsystem_python_spark.operators.dedup_text import boilerplate_removal

    if not cfg.boilerplate_min_docs:
        return df
    with_id = with_doc_id(df).withColumn("sha256", F.sha2(F.col("content"), 256))
    stripped = boilerplate_removal(
        with_id,
        id_col="doc_id",
        text_col="content",
        min_docs=cfg.boilerplate_min_docs,
        segmenter="lines",
        carry_cols=("sha256", "repo", "path", "commit", "lang"),
    )
    return stripped.select(
        "doc_id",
        "sha256",
        "repo",
        "path",
        "commit",
        "lang",
        F.col("cleaned_text").alias("content"),
    )


def _get_tokenizer(name: str):
    from iamsystem_python_spark.core.tokenize import (
        code_tokenizer,
        english_tokenizer,
        french_tokenizer,
    )

    return {"code": code_tokenizer, "english": english_tokenizer,
            "french": french_tokenizer}[name]()


def add_signatures(
    df: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
    include_shingles: bool = False,
) -> DataFrame:
    """(repo, path, commit, lang, content) → SIGNATURE_SCHEMA rows.

    doc_id = :func:`with_doc_id`; sha256 = sha2(content) is computed
    JVM-side *before* the kernel and carried through it untouched — the
    per-row integrity invariant (BASELINE.json input_hint) is therefore
    verifiable against any later stage by re-hashing content.

    By default shingle sets are NOT materialized: at 10^12-file scale
    they would dominate storage and stage-write I/O
    (~10 KB/doc of incompressible hashes — measured 80%+ of stage wall
    clock on this box's disk). Verification recomputes shingles for just
    the candidate docs (dedup.verify_pairs_recompute). Pass
    include_shingles=True for small-scale oracles/tests.
    """
    k = cfg.shingle_k
    num_bands = cfg.num_bands
    tokenizer_name = cfg.tokenizer
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    schema = SIGNATURE_SCHEMA_FULL if include_shingles else SIGNATURE_SCHEMA
    names = schema.fieldNames()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = _get_tokenizer(tokenizer_name)
        idmap = TokenIdMap()  # batch-iterator-scoped memo
        for pdf in batches:
            contents = pdf["content"].tolist()
            token_lists = [tok.norm_tokens_fast(t) for t in contents]
            sh_lists = [
                np.unique(shingle_hashes(idmap.ids(toks), k)) for toks in token_lists
            ]
            # batched numpy: one linear pass per permutation over the
            # whole Arrow batch (cache-friendly — see minhash_batch)
            sigs = minhash_batch(sh_lists, a, b)
            bnds = band_hashes_batch(sigs, num_bands).view(np.int64)
            out = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "sha256": pdf["sha256"].to_numpy(),
                "repo": pdf["repo"].to_numpy(),
                "path": pdf["path"].to_numpy(),
                "commit": pdf["commit"].to_numpy(),
                "lang": pdf["lang"].to_numpy(),
                "n_tokens": np.fromiter(
                    (len(t) for t in token_lists), dtype=np.int32, count=len(pdf)
                ),
                "bands": list(bnds),
            }
            if include_shingles:
                out["shingles"] = [s.view(np.int64) for s in sh_lists]
            yield pd.DataFrame(out, columns=names)

    # signing_view supplies pre-stripped content WITH doc_id and the raw
    # content's sha256 already attached — recomputing sha2 here would bind
    # the integrity hash to the stripped view and break the per-row
    # invariant, so existing columns win.
    prepared = with_doc_id(df)
    if "sha256" not in prepared.columns:
        prepared = prepared.withColumn("sha256", F.sha2(F.col("content"), 256))
    # The kernel is per-ROW (no key grouping), so input-split skew is the
    # reader's problem, not a key-distribution problem: only force a shuffle
    # when the source is too coarsely split to keep every core busy.
    # Key skew (mega-repos, hot bands) is handled where keys matter — the
    # LSH band join (bucket caps) and groupBys (AQE).
    if prepared.rdd.getNumPartitions() < cfg.shuffle_partitions:
        prepared = prepared.repartition(
            cfg.shuffle_partitions, F.xxhash64("repo", "path")
        )
    prepared = prepared.select(
        "doc_id", "sha256", "repo", "path", "commit", "lang", "content"
    )
    return prepared.mapInPandas(kernel, schema=schema)
