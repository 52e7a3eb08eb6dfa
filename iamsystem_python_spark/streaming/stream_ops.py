"""Structured Streaming operators.

The reference is batch-only; its window-state eviction (`is_obsolete`,
/root/reference/src/iamsystem/matcher/util.py:47-54) is the in-kernel
analogue of watermark-based state expiry — these operators make that
correspondence concrete (SURVEY.md §2-B 'Streaming' row):

- ``streaming_annotate``   : the matcher kernel over a stream — stateless
  per-row, so the same mapInPandas kernel works on streaming DataFrames.
- ``streaming_exact_dedup``: drop duplicate sha256 within a watermark —
  bounded state, the streaming analogue of the exact-dedup groupBy.
- ``windowed_event_counts``: tumbling-window agg with late-data watermark
  (the streaming twin of __spark_entry__.q10_events_hourly).
- ``sessionize``           : session windows via F.session_window.

All are plain readStream→transform→writeStream graphs; tests drive them
with the rate / memory sinks (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iamsystem_python_spark.core.matcher import Matcher
from iamsystem_python_spark.operators.annotate import annotate


def streaming_annotate(
    stream_df: DataFrame,
    matcher: Matcher,
    text_col: str = "content",
    id_cols=None,
) -> DataFrame:
    """Stateless map — identical kernel as the batch operator; Spark plans
    it inside the micro-batch with no state store."""
    return annotate(stream_df, matcher, text_col=text_col, id_cols=id_cols)


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "content",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Emit only first-seen contents within the watermark horizon.
    State = one sha256 per distinct content inside the horizon — bounded,
    exactly like the matcher's w-window state eviction."""
    return (
        stream_df.withColumn("sha256", F.sha2(F.col(text_col).cast("string"), 256))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["sha256"])
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols=("event_type",),
) -> DataFrame:
    """Tumbling-window counts with late-data watermark."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n",
        )
    )


def sessionize(
    stream_df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) — streaming twin of q05_user_sessions."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def make_neardup_state_fn(max_hamming: int, max_state_rows: int,
                          state_timeout_ms: "int | None"):
    """Build the per-group state function for streaming_neardup_stateful.
    Module-level so the timeout-expiry and eviction branches are unit-
    testable with a stub GroupState (no streaming query needed).

    State = (ids, sims) kept in least-recently-matched order: a
    representative that matches an arriving doc is refreshed to the tail,
    so the per-batch cap truncation drops reps that stopped catching
    duplicates, not merely the oldest-inserted."""
    import pandas as pd

    def dedup_fn(key, pdfs, state):
        if state_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=["doc_id", "dup_of", "hamming"])
            return
        ids, sims = ([], []) if not state.exists else (
            list(state.get[0]), list(state.get[1])
        )
        rows = []
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                h = int(r.simhash)
                best = None
                for i, (sid, ssim) in enumerate(zip(ids, sims)):
                    d = bin(h ^ ssim).count("1")
                    if d <= max_hamming and sid != r.doc_id and (
                        best is None or d < best[1]
                    ):
                        best = (i, d)
                if best is not None:
                    i, d = best
                    rows.append((r.doc_id, ids[i], d))
                    # LRU refresh: the matched representative moves to tail
                    ids.append(ids.pop(i))
                    sims.append(sims.pop(i))
                else:  # new representative (inserted at tail = most recent)
                    ids.append(r.doc_id)
                    sims.append(h)
        if len(ids) > max_state_rows:
            # bounded state: evict least-recently-matched (head) first —
            # see streaming_neardup_stateful docstring for the missed-
            # verdict consequence of any eviction
            ids, sims = ids[-max_state_rows:], sims[-max_state_rows:]
        state.update((ids, sims))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(rows, columns=["doc_id", "dup_of", "hamming"])

    return dedup_fn


def streaming_neardup_stateful(
    stream_df: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    k: int = 3,
    bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 4,
    state_timeout_ms: "int | None" = 600_000,
    max_state_rows: int = 4096,
) -> DataFrame:
    """Cross-micro-batch near-duplicate detection — the streaming twin of
    the batch SimHash Hamming-join (operators/dedup_text.simhash_pairs_sql),
    built on ``applyInPandasWithState``:

    1. stateless map: SimHash per row (numpy batch kernel — same signature
       config as the batch pipeline);
    2. explode the pigeonhole bit blocks (any pair within ``max_hamming``
       shares ≥1 of ``n_blocks`` equal blocks, so per-block grouping is a
       complete candidate generator);
    3. per (block_id, block_val) group: keep REPRESENTATIVE (doc_id,
       simhash) pairs in state; an arriving doc within ``max_hamming`` of a
       representative emits one (doc_id, dup_of, hamming) verdict (nearest
       representative) and is NOT added to state — so state size is bounded
       by distinct content clusters, not stream length, and emission is
       linear in the input (an all-pairs variant would grow quadratically
       on duplicate-heavy streams).

    State is the streaming analogue of the matcher's w-window eviction
    (reference matcher/util.py:47-54): bounded per group (``max_state_rows``,
    least-recently-MATCHED evicted first — a representative that keeps
    catching duplicates stays resident; truncation runs once per batch) and
    expired wholesale by processing-time timeout (``state_timeout_ms=None``
    disables expiry — required for bounded ``availableNow`` runs, where a
    pending timeout makes Spark schedule state-cleanup batches until the
    timeout fires). CONSEQUENCE OF EVICTION (cap or timeout): an evicted
    representative's content can be re-elected as a NEW representative, so
    duplicate verdicts spanning the eviction boundary are silently missed,
    and which rows get verdicts depends on within-batch arrival order —
    size ``max_state_rows`` to the expected number of live content clusters
    per (block_id, block_val) group, and treat this operator as a
    high-recall filter, not an exact join (the batch pipeline is the exact
    instrument). A doc sharing several equal blocks with its representative
    is emitted once per sharing group — dedup downstream with
    ``dropDuplicates([doc_id, dup_of])`` if exactly-once verdicts matter."""
    import pandas as pd
    from typing import Iterator, Tuple

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    from iamsystem_python_spark.core.tokenize import english_tokenizer
    from iamsystem_python_spark.functions.hashing import (
        TokenIdMap,
        shingle_hashes,
        simhash64,
    )
    from iamsystem_python_spark.operators.dedup import simhash_blocks

    mask32 = (1 << bits) - 1

    def sim_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = english_tokenizer()
        idmap = TokenIdMap()
        import numpy as np

        for pdf in batches:
            sims = []
            for text in pdf[text_col].tolist():
                sh = np.unique(shingle_hashes(idmap.ids(tok.norm_tokens_fast(text or "")), k))
                sims.append(simhash64(sh) & mask32)
            out = pd.DataFrame({"doc_id": pdf[id_col].astype(str), "simhash": sims})
            yield out

    simmed = stream_df.mapInPandas(
        sim_kernel,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.StringType()),
                T.StructField("simhash", T.LongType()),
            ]
        ),
    )
    # block_val (not simhash_blocks' block_value) is the state grouping
    # key, so existing streaming checkpoints keep their key schema
    blocks = simhash_blocks(simmed, n_blocks, bits).withColumnRenamed(
        "block_value", "block_val"
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("dup_of", T.StringType()),
            T.StructField("hamming", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.StringType())),
            T.StructField("sims", T.ArrayType(T.LongType())),
        ]
    )

    dedup_fn = make_neardup_state_fn(max_hamming, max_state_rows, state_timeout_ms)

    return blocks.groupBy("block_id", "block_val").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def make_chunk_state_fn(max_state_hashes: int):
    """Per-bucket state function for :func:`streaming_chunk_dedup` —
    module-level so the LRU/eviction branches are unit-testable with a
    stub GroupState.

    State = the chunk hashes seen so far in this bucket, kept in
    least-recently-SEEN order (a hash that keeps recurring is refreshed to
    the tail, so cap truncation evicts hashes that stopped recurring).
    An arriving chunk whose hash is resident → keep=False (duplicate);
    otherwise keep=True and the hash becomes resident. Rows are processed
    in (doc_id, chunk_i) order within the batch so the keep-first rule is
    deterministic per batch."""
    import pandas as pd

    def chunk_fn(key, pdfs, state):
        lru = dict.fromkeys(state.get[0]) if state.exists else {}
        out_doc, out_ci, out_keep = [], [], []
        rows = []
        for pdf in pdfs:
            rows.extend(pdf.itertuples(index=False))
        rows.sort(key=lambda r: (str(r.doc_id), int(r.chunk_i)))
        for r in rows:
            h = int(r.h)
            if h in lru:
                del lru[h]
                lru[h] = None  # refresh to tail
                keep = False
            else:
                lru[h] = None
                keep = True
            out_doc.append(str(r.doc_id))
            out_ci.append(int(r.chunk_i))
            out_keep.append(keep)
        if len(lru) > max_state_hashes:
            resident = list(lru)[-max_state_hashes:]
            lru = dict.fromkeys(resident)
        state.update((list(lru),))
        yield pd.DataFrame(
            {"doc_id": out_doc, "chunk_i": out_ci, "keep": out_keep}
        )

    return chunk_fn


def streaming_chunk_dedup(
    stream_df: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
    delimiter: str = " ",
    n_buckets: int = 64,
    max_state_hashes: int = 100_000,
) -> DataFrame:
    """Cross-micro-batch fixed-window substring dedup — the streaming twin
    of operators/dedup_text.chunk_dedup (CCNet-style ingest dedup):

    1. stateless row-local chunking (shared ``chunks_projection`` — split +
       slice in one projection, no word explode);
    2. 60-bit chunk hash, bucketed by ``pmod(hash, n_buckets)`` — the
       bucket is the state KEY, so state sharding follows the shuffle and
       scales with parallelism (10^12-chunk streams shard across
       ``n_buckets × executors``);
    3. per bucket, ``applyInPandasWithState`` keeps the seen-hash set
       (LRU-bounded, least-recently-seen evicted) and emits one verdict
       row per chunk: (doc_id, chunk_i, keep).

    Emission contract: per-CHUNK verdicts, not rebuilt documents — a
    second stateful regroup by doc inside one streaming query would need a
    second state boundary; consumers join verdicts back to their chunks
    (batch rebuild shape: chunk_dedup). EVICTION CONSEQUENCE: an evicted
    hash re-arriving is treated as new (duplicate missed) — size
    ``max_state_hashes`` to the live distinct-chunk count per bucket and
    treat the operator as a high-recall ingest filter; the batch operator
    is the exact instrument. No timeout is configured, so bounded
    ``availableNow`` runs terminate cleanly and state survives restarts
    via the checkpoint (resumability at the operator level)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    from iamsystem_python_spark.operators.dedup_text import chunks_projection

    base = chunks_projection(
        stream_df, id_col=id_col, text_col=text_col,
        chunk_tokens=chunk_tokens, delimiter=delimiter,
    )
    narrow = base.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode("__chunks").alias("chunk_i", "__chunk"),
    ).select(
        "doc_id",
        "chunk_i",
        F.conv(F.substring(F.sha2(F.col("__chunk"), 256), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).withColumn("bucket", F.pmod(F.col("h"), F.lit(n_buckets)).cast("int"))

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("chunk_i", T.LongType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("hashes", T.ArrayType(T.LongType()))]
    )
    return narrow.groupBy("bucket").applyInPandasWithState(
        make_chunk_state_fn(max_state_hashes),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def make_mixture_state_fn(targets: dict, salt: str = "s1"):
    """Per-(bucket, shard) state function for
    :func:`streaming_token_mixture` — module-level for stub-GroupState
    unit tests. State = tokens consumed so far (one long).

    Rows within a micro-batch are processed in the portable
    sha256(id|salt) order (same orderer as the batch sampler), so a
    single-batch availableNow run reproduces
    ``operators.sampling.token_mixture_sample`` exactly; across batches
    the quota is ONLINE — arrival order decides, which is the streaming
    semantics (an ingest gate cannot reorder history). Admission rule is
    identical: admit while consumed-so-far < target, crossing doc
    included; only admitted docs consume budget."""
    import hashlib

    import pandas as pd

    def mixture_fn(key, pdfs, state):
        bucket = str(key[0])
        target = float(targets.get(bucket, 0.0))
        consumed = int(state.get[0]) if state.exists else 0
        rows = []
        for pdf in pdfs:
            rows.extend(pdf.itertuples(index=False))
        rows.sort(
            key=lambda r: (
                hashlib.sha256(f"{r.doc_id}|{salt}".encode()).hexdigest(),
                str(r.doc_id),
            )
        )
        out = {"doc_id": [], "bucket": [], "n_tokens": [], "cum_before": [], "admitted": []}
        for r in rows:
            n = int(r.n_tokens)
            admitted = consumed < target
            out["doc_id"].append(str(r.doc_id))
            out["bucket"].append(bucket)
            out["n_tokens"].append(n)
            out["cum_before"].append(consumed)
            out["admitted"].append(admitted)
            if admitted:
                consumed += n
        state.update((consumed,))
        yield pd.DataFrame(out)

    return mixture_fn


def streaming_token_mixture(
    stream_df: DataFrame,
    weights: dict,
    token_budget: int,
    bucket_col: str = "lang",
    text_col: str = "content",
    id_col: str = "doc_id",
    salt: str = "s1",
    n_shards: int = 1,
) -> DataFrame:
    """Online token-budget mixture gate — the streaming twin of
    ``operators.sampling.token_mixture_sample``: each bucket admits docs
    (in arrival order, hash-ordered within a micro-batch) while its
    consumed-token counter is below target = budget·weight/Σweights, then
    closes. Emits one verdict row per doc: (doc_id, bucket, n_tokens,
    cum_before, admitted) — downstream routes admitted docs into the
    training mix and drops the rest.

    State is ONE long per key, keyed by (bucket, shard): with
    ``n_shards > 1`` each bucket's quota splits evenly across
    ``pmod(xxhash64(id), n_shards)`` shards so a hot bucket's admission
    decisions parallelize (the single-counter version is inherently
    sequential per bucket — the documented trade: sharded quotas admit a
    slightly different doc set than the global counter, each shard exact
    for its own target). Checkpoint-restartable: a restarted query
    resumes every counter from state, so quotas never double-fill."""
    if not weights:
        raise ValueError("weights must name at least one bucket")
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    total_w = float(sum(weights.values()))
    targets = {
        k: token_budget * w / total_w / float(n_shards)
        for k, w in weights.items()
    }
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit("")))
    narrow = (
        stream_df.where(F.col(bucket_col).isin(list(weights)))
        .select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(bucket_col).alias("bucket"),
            toks.cast("long").alias("n_tokens"),
        )
        .withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("bucket", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("cum_before", T.LongType()),
            T.StructField("admitted", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("consumed", T.LongType())])
    return narrow.groupBy("bucket", "shard").applyInPandasWithState(
        make_mixture_state_fn(targets, salt),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_compliance_scan(
    stream_df: DataFrame,
    content_col: str = "content",
) -> DataFrame:
    """Stateless compliance gate on an ingest stream: the batch
    secret-scan battery (operators/secrets.secret_scan) plus license
    tagging (operators/licenses.license_tag) applied per micro-batch —
    both are row-local codegen, so Spark plans them with no state store
    and the stream inherits their exact batch semantics (same columns,
    same redacted_sha contract; a batch replay of the same rows is
    bit-identical). Route on ``quarantine`` = has secrets OR a
    non-permissive license."""
    from iamsystem_python_spark.operators.licenses import license_tag
    from iamsystem_python_spark.operators.secrets import secret_scan

    scanned = license_tag(
        secret_scan(stream_df, col=content_col), col=content_col
    )
    return scanned.withColumn(
        "quarantine",
        (F.col("n_secrets") > 0)
        | (F.col("has_license") & ~F.col("permissive")),
    )
