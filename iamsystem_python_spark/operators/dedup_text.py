"""Dedup operators over a generic text table — the SQL-expressible variants
(each has an exact DuckDB oracle in __spark_entry__). The heavy numpy-kernel
pipeline lives in plans/pipeline.py; these share its relational shapes:
exact hash-groupBy, MinHash-LSH band self-join, n-gram Jaccard verification.

All pure pyspark.sql.functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iamsystem_python_spark.functions import sqlhash
from iamsystem_python_spark.functions.scoped_cache import tie_cache
from iamsystem_python_spark.operators.dedup import bucket_pairs, simhash_blocks


def exact_dup_groups_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: (sha256, group_size, doc_ids sorted) for groups > 1."""
    return (
        df.select("doc_id", F.sha2(F.col(text_col).cast("string"), 256).alias("sha"))
        .groupBy("sha")
        .agg(
            F.count("*").alias("group_size"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("group_size") > 1)
    )


def shingle_hash_rows(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    distinct: bool = True,
    carry_cols: tuple = (),
) -> DataFrame:
    """(doc_id, *carry_cols, h60) — one row per distinct k-shingle, 60-bit
    portable hash. ``carry_cols`` names doc-level columns (e.g. the repo /
    source of the doc) carried through the explode — a pass-through
    projection, NOT a corpus-sized join back onto the grams.

    Two deliberate plan choices, both measured on this box:
    - Exploding BEFORE hashing: sha256 evaluated once per (doc, shingle);
      keeping the hash inside an array column lets project-collapse inline
      it into every downstream signature expression (num_perm sha256 evals
      per shingle — 20×+ slower).
    - posexplode + window `lead` instead of higher-order functions: lambda
      expressions (transform/filter/slice) are interpreted, not
      whole-stage-codegen'd — the HOF formulation of the same shingling was
      3× slower. Everything here (split, posexplode, lead, concat_ws, sha2)
      stays inside codegen; the window partitions by doc_id, the natural
      parallel unit at 10^12 rows.
    Docs shorter than k tokens contribute their whole token sequence as one
    shingle (same rule as sqlhash.shingles_col and the DuckDB oracle).
    distinct=False skips the dedup shuffle — correct for consumers whose
    aggregates are dedup-insensitive (collect_set, min); SimHash's per-bit
    popcounts need distinct=True."""
    carry = list(carry_cols)
    tok = (
        df.select(
            "doc_id",
            *carry,
            F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("pos", "tok"),
        ).where(F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, k)]
    full = (
        tok.select(
            "doc_id",
            *carry,
            F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
            F.lead("tok", k - 1).over(w).isNotNull().alias("_full"),
        )
        .where("_full")
        .drop("_full")
    )
    toks_arr = sqlhash.tokens_col(F.col(text_col))
    whole = (
        df.select(
            "doc_id",
            *carry,
            F.array_join(toks_arr, " ").alias("s"),
            F.size(toks_arr).alias("_n"),
        )
        .where((F.col("_n") < k) & (F.col("_n") >= 0))
        .drop("_n")
    )
    h60 = (
        F.conv(F.substring(F.sha2(F.col("s"), 256), 1, 15), 16, 10)
        .cast("long")
        .alias("h60")
    )
    out = full.union(whole).select("doc_id", *carry, h60)
    return out.distinct() if distinct else out


# backwards-compatible name used by earlier call sites
minhash_doc_hashes = shingle_hash_rows


def minhash_signatures_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, hset, sig_0..sig_{n-1}) — MinHash AS AGGREGATION: sig_i is a
    plain `min` aggregate over the doc's shingle hashes, so Spark computes
    it with map-side partial aggregation (one shuffle row per doc, no array
    materialization in the shuffle beyond hset). hset (the distinct 60-bit
    hashes) rides along for exact-Jaccard verification downstream —
    collision probability at 60 bits is ~1e-12 per pair, and the DuckDB
    oracle performs the identical hash-set computation."""
    hashed = shingle_hash_rows(df, text_col, k, distinct=False)
    hp = F.col("h60") % F.lit(sqlhash.P)
    aggs = [F.collect_set("h60").alias("hset")] + [
        F.min((F.lit(a) * hp + F.lit(b)) % F.lit(sqlhash.P)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(sqlhash.perm_params(num_perm, seed))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_keys_expr(num_perm: int, num_bands: int):
    """Array of band keys over sig_0..sig_{num_perm-1} columns: band i's key
    is ``"i,sig,sig,…"`` over its r = num_perm//num_bands consecutive sig
    values — the same encoding the DuckDB oracle builds, and the key a
    persisted signature store re-derives without re-reading any text."""
    r = num_perm // num_bands
    return F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(band),
                *[F.col(f"sig_{band * r + j}").cast("string") for j in range(r)],
            )
            for band in range(num_bands)
        ]
    )


def minhash_lsh_pairs_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact shingle-Jaccard verification.
    Bands are multi-column groupings of r consecutive sig columns; the
    self-join key is the band's concatenated signature — a plain equi-join
    Catalyst can shuffle-hash or broadcast as sizes dictate."""
    sig = minhash_signatures_sql(df, text_col, k, num_perm, seed)
    # all bands in ONE pass over sig (explode of the band-key array), not an
    # N-way union that re-executes the signature subplan per band. sig is
    # deliberately NOT persisted: column pruning specializes each of the 3
    # consumers (banding drops hset, verification drops the sig columns), so
    # recomputing the lean aggregate is ~16x cheaper than columnar-caching
    # the array column (measured). At cluster scale the big pipeline
    # (plans/pipeline.py) shares this stage via parquet checkpoints instead.
    band_keys = _band_keys_expr(num_perm, num_bands)
    # the band self-join consumes `bands` twice — without a persist the
    # lean signature aggregate re-executes per side. Unlike sig (array
    # column), bands is two scalar columns (num_bands rows/doc), so the
    # columnar cache is cheap: measured at sf0.1, cold 9.9→3.3 s, warm
    # 2.9→2.3 s. MEMORY_AND_DISK spills if the corpus outgrows executor
    # memory; the big pipeline shares this stage via parquet checkpoints.
    # The cache is scoped to the returned frame (tie_cache): it is
    # unpersisted when the result is GC'd, or via scoped_cache.release().
    bands = sig.select(
        F.col("doc_id").alias("doc"), F.explode(band_keys).alias("band_key")
    ).persist()
    cand = bucket_pairs(bands, "doc", "band_key").select("doc_a", "doc_b").distinct()
    sh = sig.select("doc_id", F.col("hset").alias("shingles"))
    out = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return tie_cache(out, bands)


# A signature store row is exactly minhash_signatures_sql's output
# (doc_id, hset, sig_0..sig_{n-1}); persist it as parquet between ingest
# runs. The alias exists so call sites read as build/load symmetry.
build_minhash_index = minhash_signatures_sql


def incremental_lsh_pairs_sql(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs of a NEW ingest batch against a persisted signature
    store — the production shape at 10^12 files: the historical corpus is
    signed ONCE (``build_minhash_index`` → parquet, in practice partitioned
    by a band-key prefix); a nightly batch re-reads only its own text plus
    the store's fixed-width sketch columns, never historical text.

    Returns (doc_a, doc_b, pair_side, jaccard) where ≥1 side is new:
    ``new-new`` pairs within the batch and ``new-old`` pairs against the
    store, ids ordered doc_a < doc_b. Because a doc's bands depend only on
    its own text, this equals the full-corpus ``minhash_lsh_pairs_sql``
    restricted to pairs touching the batch (invariant tested in
    tests/test_operators.py). Doc ids must be disjoint between batch and
    store (re-ingests should delete-then-insert upstream).

    Plan shape: the store's band table is ONE streamed scan, pre-filtered
    by a broadcast of the batch's band keys, and no old-old pair is ever
    generated (``dedup.bucket_pairs`` with a store; joining store×store and
    filtering would be quadratic in history). Verification
    re-attaches hset from the store for old ids and from the batch
    signatures for new ids.

    To roll the store forward after the run:
    ``index.unionByName(build_minhash_index(new_df, ...))``.
    """
    sig_new = minhash_signatures_sql(new_df, text_col, k, num_perm, seed)
    band_keys = _band_keys_expr(num_perm, num_bands)
    # bands_new is consumed twice (join build side + the new-new branch via
    # the union) — two scalar columns per row, cheap to cache; scoped to
    # the returned frame like the full variant's band cache.
    bands_new = sig_new.select(
        F.col("doc_id").alias("doc"), F.explode(band_keys).alias("band_key")
    ).persist()
    bands_old = index.select(
        F.col("doc_id").alias("doc"), F.explode(band_keys).alias("band_key")
    )
    cand = (
        bucket_pairs(bands_new, "doc", "band_key", store=bands_old)
        .select("doc_a", "doc_b", "pair_side")
        .distinct()
    )
    sh = sig_new.select("doc_id", "hset").unionByName(
        index.select("doc_id", "hset")
    )
    out = (
        cand.join(
            sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hset", "sh_a"),
            "doc_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hset", "sh_b"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "pair_side", "jaccard")
    )
    return tie_cache(out, bands_new)


def compress_minhash_index_bbit(index: DataFrame, num_perm: int) -> DataFrame:
    """1-bit compression of a MinHash signature store (Li & König, "b-Bit
    Minwise Hashing", WWW 2010 — public spec, b=1): bit i of ``bbit`` is
    sig_i's low-order bit, so 64 permutations pack into ONE int64 per doc —
    a 64× narrower store than the sig columns (and no hset), which is what
    ships through every estimation join at 10^12-file scale. Estimator:
    for b=1, P(bit_i agrees) = (1+J)/2, hence J ≈ 2·agreement/num_perm − 1.

    Packing is bitwiseOR of shifted lanes (never addition — lane 63 is the
    sign bit and ANSI-mode long addition would overflow-throw)."""
    if num_perm > 64:
        raise ValueError("1-bit packing supports num_perm <= 64 (one int64 word)")
    import functools

    lanes = [
        F.shiftleft((F.col(f"sig_{i}") % 2).cast("long"), i) for i in range(num_perm)
    ]
    packed = functools.reduce(lambda a, b: a.bitwiseOR(b), lanes)
    return index.select("doc_id", packed.alias("bbit"))


def bbit_minhash_pairs_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidates verified WITHOUT text or shingle sets: the
    estimation join ships only the 1-bit packed word per side
    (``compress_minhash_index_bbit``), and est_jaccard = max(0,
    2·agreement/num_perm − 1) gates the pair. This is the Li–König
    storage/bandwidth profile for a 10^12-file store: band keys are
    derived at sign time (as in the incremental index), while similarity
    estimation needs 8 bytes/doc — the hset column (the full variant's
    verification payload, ~KBs/doc) never exists.

    Plan shape mirrors minhash_lsh_pairs_sql: one band-key-array explode,
    an equi self-join on band_key, then two narrow joins re-attaching the
    packed words; agreement is a single XOR + bit_count, whole-stage
    codegen end-to-end. The estimator's variance (~1/√num_perm) is the
    documented trade — use num_perm=64 bands and a verification rerank on
    the survivors when exactness matters."""
    sig = minhash_signatures_sql(df, text_col, k, num_perm, seed)
    band_keys = _band_keys_expr(num_perm, num_bands)
    bands = sig.select(
        F.col("doc_id").alias("doc"), F.explode(band_keys).alias("band_key")
    ).persist()
    cand = bucket_pairs(bands, "doc", "band_key").select("doc_a", "doc_b").distinct()
    packed = compress_minhash_index_bbit(sig, num_perm)
    xor = F.col("bb_a").bitwiseXOR(F.col("bb_b"))
    if num_perm < 64:
        xor = xor.bitwiseAND(F.lit((1 << num_perm) - 1))
    agree = (F.lit(num_perm) - F.bit_count(xor)).cast("double")
    est = F.round(
        F.greatest(F.lit(0.0), agree * 2.0 / F.lit(float(num_perm)) - 1.0), 6
    )
    out = (
        cand.join(
            packed.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "bbit", "bb_a"
            ),
            "doc_a",
        )
        .join(
            packed.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "bbit", "bb_b"
            ),
            "doc_b",
        )
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )
    return tie_cache(out, bands)


def group_minhash_pairs_sql(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    num_bands: int = 64,
    threshold: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Group-level (repo-level) similarity via MERGED MinHash sketches —
    mega-repo / fork detection over source-code corpora: MinHash(union of
    the group's shingle sets) is just the elementwise min over ALL the
    group's shingle hashes, so the group signature is one direct
    ``groupBy(group).agg(min...)`` over the gram rows (map-side partial
    aggregation; the per-repo shingle union is never materialized, per-doc
    hsets never shuffled). Returns (group_a, group_b, est_jaccard) for band
    candidates with estimated Jaccard (fraction of agreeing signature
    components) ≥ threshold.

    Scale shape: 10^12 files collapse to one signature row per GROUP
    (~10^8 repos) before any join; the band self-join operates on that
    small table only. Repo-level similarity is much lower than doc-level
    (shared files / union of all files), so defaults differ from the doc
    path: more permutations (finer estimates) and r=1 banding
    (P[candidate] = 1-(1-j)^bands — recall at j≈0.05 needs single-sig
    bands; r≥2 misses low-j pairs). The estimate is itself the verdict —
    exact group Jaccard would need the unions this operator exists to
    avoid; at 64 perms the estimator's σ at j=0.05 is ~0.027.

    The group column rides the gram explode as a projection
    (shingle_hash_rows carry_cols), never a corpus-sized join."""
    grams = shingle_hash_rows(
        df, text_col, k, distinct=False, carry_cols=(group_col,)
    )
    hp = F.col("h60") % F.lit(sqlhash.P)
    sig = grams.groupBy(group_col).agg(
        *[
            F.min((F.lit(a) * hp + F.lit(b)) % F.lit(sqlhash.P)).alias(f"sig_{i}")
            for i, (a, b) in enumerate(sqlhash.perm_params(num_perm, seed))
        ]
    )
    band_keys = _band_keys_expr(num_perm, num_bands)
    # one signature row per group: tiny frame, two consumers (band join
    # sides + estimate re-attach) — cache scoped to the result
    sig = sig.persist()
    bands = sig.select(
        F.col(group_col).alias("group"), F.explode(band_keys).alias("band_key")
    )
    cand = (
        bucket_pairs(bands, "group", "band_key")
        .select("group_a", "group_b")
        .distinct()
    )
    est = sum(
        F.when(F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1).otherwise(0)
        for i in range(num_perm)
    ) / F.lit(float(num_perm))
    out = (
        cand.join(sig.alias("sa"), F.col("group_a") == F.col(f"sa.{group_col}"))
        .join(sig.alias("sb"), F.col("group_b") == F.col(f"sb.{group_col}"))
        .select("group_a", "group_b", F.round(est, 6).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
    )
    return tie_cache(out, sig)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str = "source",
    max_block_size: int = None,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs within blocks (blocked all-pairs:
    the quadratic join is bounded per block — the classic blocking-key
    pattern when LSH is overkill for small within-group comparisons).
    Shingle strings are built with the codegen-friendly posexplode+lead
    path (see shingle_hash_rows) and regrouped per doc with collect_set —
    the HOF array formulation is interpreted and measurably slower.

    ``max_block_size`` is the quadratic backstop (same role as
    ``band_bucket_cap`` in the LSH path): a block of B docs contributes
    O(B²) pairs, so any block over the cap is dropped from pair generation
    entirely rather than silently absorbing a shuffle partition at scale.
    Dropped-row counts are surfaced as one named ``observe`` metric
    (observation ``ngram_block_cap``, column ``ngram_rows_dropped`` —
    readable from a QueryExecutionListener, no extra job). Use LSH
    (lsh_candidate_pairs) when blocks can be large; this operator is for
    bounded blocks."""
    return _ngram_pairs(
        df, text_col, n, threshold, block_col, max_block_size, measure="jaccard"
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    block_col: str = "source",
    max_block_size: int = None,
) -> DataFrame:
    """Word n-gram *containment* pairs within blocks: score =
    |A∩B| / min(|A|,|B|) (Broder's containment with the smaller set as
    denominator). Catches the small-in-large shape Jaccard structurally
    misses — a 100-line file pasted verbatim inside a 10k-line file has
    containment 1.0 but Jaccard ≈ 0.01, so a Jaccard gate never fires.
    That asymmetry is the common clone shape in source code (vendored
    files, license headers, copied utility modules). Same blocked
    all-pairs plan and quadratic backstop as :func:`ngram_jaccard_pairs`;
    returns (doc_a, doc_b, containment)."""
    return _ngram_pairs(
        df, text_col, n, threshold, block_col, max_block_size, measure="containment"
    )


def _ngram_pairs(
    df: DataFrame,
    text_col: str,
    n: int,
    threshold: float,
    block_col: str,
    max_block_size,
    measure: str,
) -> DataFrame:
    tok = (
        df.select(
            "doc_id",
            F.col(block_col).alias("blk"),
            F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("pos", "tok"),
        ).where(F.col("tok") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    full = (
        tok.select(
            "doc_id",
            "blk",
            F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
            F.lead("tok", n - 1).over(w).isNotNull().alias("_full"),
        )
        .where("_full")
        .drop("_full")
    )
    toks_arr = sqlhash.tokens_col(F.col(text_col))
    whole = df.select(
        "doc_id",
        F.col(block_col).alias("blk"),
        F.array_join(toks_arr, " ").alias("s"),
        F.size(toks_arr).alias("_n"),
    ).where((F.col("_n") < n) & (F.col("_n") >= 0)).drop("_n")
    base = (
        full.union(whole)
        .groupBy("doc_id", "blk")
        .agg(F.collect_set("s").alias("sh"))
        .select("blk", F.col("doc_id").alias("doc"), "sh")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    if measure == "jaccard":
        score = inter / F.size(F.array_union("sh_a", "sh_b"))
    elif measure == "containment":
        score = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    else:
        raise KeyError(f"unknown n-gram pair measure: {measure!r}")
    return (
        bucket_pairs(base, "doc", "blk", cap=max_block_size, tag="ngram")
        .withColumn(measure, F.round(score, 6))
        .where(F.col(measure) >= threshold)
        .select("doc_a", "doc_b", measure)
    )


def near_dup_clusters_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    num_bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Pairs → clusters via min-label star contraction, SQL-expressible for
    small diameters: each doc's cluster = min(doc_id) over its verified
    neighborhood closure of depth 2 (dup clusters are near-cliques after
    verification, so two hops reach the minimum). For arbitrary graphs use
    operators.cc.connected_components; this variant exists because the
    driver oracle must be runnable as one DuckDB SQL statement."""
    # pairs is referenced by both hops AND the final join — persist it so
    # the whole signature+join subtree runs once. Unlike the array-column
    # signature stage (see minhash_lsh_pairs_sql), pairs is a tiny
    # 3-scalar-column result, so caching is cheap and correct here.
    # tie_cache below also keeps the pairs Python object alive for the
    # result's lifetime, so the inner bands cache (scoped to `pairs` by
    # minhash_lsh_pairs_sql) is released transitively, in order.
    pairs = minhash_lsh_pairs_sql(
        df, text_col, k, num_perm, num_bands, threshold
    ).persist()
    sym = pairs.select("doc_a", "doc_b").union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # hop 1: min neighbor (incl. self)
    hop1 = sym.groupBy("doc_a").agg(F.least(F.min("doc_b"), F.first("doc_a")).alias("m1"))
    # hop 2: min over neighbors' m1
    hop2 = (
        sym.join(hop1.withColumnRenamed("doc_a", "doc_b"), "doc_b")
        .groupBy("doc_a")
        .agg(F.min("m1").alias("m2"))
    )
    out = (
        hop1.join(hop2, "doc_a", "left")
        .select(
            F.col("doc_a").alias("doc_id"),
            F.least("m1", F.coalesce("m2", "m1")).alias("cluster_id"),
        )
    )
    return tie_cache(out, pairs)


_MASK32 = 4294967295  # low 32 bits of the portable 60-bit shingle hash


def simhash_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    bits: int = 32,
) -> DataFrame:
    """(doc_id, simhash) — SQL-portable SimHash (bit-sampling over the
    document's distinct k-shingle hashes, reference idea per SURVEY §2-C).

    Every step is a Catalyst expression so the identical computation runs in
    DuckDB: shingle hash = low 32 bits of the portable sha256-based hash
    (functions/sqlhash.py); bit j of the signature is set iff at least half
    the shingles have bit j set (majority vote, ties → 1 — the canonical
    sum(±1) >= 0 rule). The per-bit popcounts are one codegen'd groupBy with
    `bits` sum aggregates over the exploded hash column — partial aggregation
    (map-side combine) keeps the shuffle at one row per doc. Shingle hashes
    come from the shared codegen-friendly builder, deduped at the 60-bit
    level (the oracle dedups the shingle strings — identical modulo ~1e-12
    60-bit collisions)."""
    ex = shingle_hash_rows(df, text_col, k, distinct=True).select(
        "doc_id", F.col("h60").bitwiseAND(F.lit(_MASK32)).alias("hv")
    )
    aggs = [F.count("*").alias("n_sh")] + [
        F.sum(F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1))).alias(f"c{j}")
        for j in range(bits)
    ]
    cnt = ex.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(
            F.lit(2) * F.col(f"c{j}") >= F.col("n_sh"), F.lit(1 << j)
        ).otherwise(F.lit(0)).cast("long")
    return cnt.select("doc_id", sim.alias("simhash"))


def simhash_pairs_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    bits: int = 32,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """All pairs within `max_hamming` SimHash bits — EXACT under the
    pigeonhole guarantee: with n_blocks > max_hamming equal-width bit
    blocks, any pair at distance <= max_hamming agrees on at least one
    whole block, so the block equi-join (a plain shuffled/broadcast hash
    join; no cross product) is a complete candidate generator, and the
    bit_count(xor) filter makes the result exact. This is the scalable
    Hamming-join: at 10^12 rows each block table is a groupBy-key join,
    skew-handled by AQE like any equi-join."""
    assert n_blocks > max_hamming, "pigeonhole needs n_blocks > max_hamming"
    sim = simhash_sql(df, text_col, k, bits)
    # persist sim: the block self-join consumes it twice, and unlike the
    # MinHash hset stage it is two SCALAR columns — caching is cheap and
    # halves the expensive per-bit aggregate (measured at sf0.1: cold
    # 13.4→3.9 s, warm 3.6→2.5 s). The blocks are one explode over sim —
    # a union of N projections would re-execute the simhash aggregate
    # subplan per block (same trap as the MinHash bands)
    sim = sim.persist()
    blocks = simhash_blocks(sim, n_blocks, bits).withColumnRenamed("doc_id", "doc")
    out = (
        bucket_pairs(blocks, "doc", ["block_id", "block_value"])
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return tie_cache(out, sim)


def exact_dedup_decision(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sha, keep) — the per-row exact-dedup verdict: keep iff the
    doc is the min doc_id of its exact-content (sha256) group. Unlike the
    groups-only view this is non-trivial on corpora with no duplicates, and
    it is the shape a training-data pipeline actually consumes (filter on
    keep). One window over the sha partition — a single hash shuffle."""
    w = Window.partitionBy("sha")
    return (
        df.select("doc_id", F.sha2(F.col(text_col).cast("string"), 256).alias("sha"))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
    )


def chunks_projection(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
    delimiter: str = " ",
) -> DataFrame:
    """Row-local fixed-window chunking: adds ``__chunks array<string>`` to
    (id_col, text_col) via split + slice inside one projection — no
    word-level explode, usable on batch AND streaming frames (shared by
    :func:`chunk_dedup` and streaming/stream_ops.streaming_chunk_dedup)."""
    k = int(chunk_tokens)
    split_re = f"\\Q{delimiter}\\E"  # literal delimiter, regex-quoted
    return (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .withColumn("__words", F.split(F.col(text_col), split_re))
        .withColumn("__nc", F.ceil(F.size("__words") / F.lit(k)).cast("int"))
        .withColumn(
            "__chunks",
            F.when(F.col("__nc") <= 0, F.array().cast("array<string>")).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.col("__nc") - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("__words"), i * k + 1, k), delimiter
                    ),
                )
            ),
        )
        .drop("__words")
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
    delimiter: str = " ",
) -> DataFrame:
    """Fixed-window exact-substring dedup (the coarse window-level pass of
    Lee et al., "Deduplicating Training Data Makes Language Models Better";
    the CCNet line-dedup analogue for corpora without line structure):
    split each document into consecutive ``chunk_tokens``-token windows and
    keep only the globally-first occurrence — ordered by (id, chunk_i) — of
    every distinct window. No reference counterpart (new Spark-side
    surface; the finer exact-span pass is operators/clonespans.py).

    100-TB shape: chunking is row-local (split + slice inside one
    projection — no word-level explode, no text shuffle); global ownership
    is ONE shuffle of narrow (hash60, id, chunk_i) rows; drop-sets come
    back as per-doc int arrays (usually tiny) on an id equi-join, and the
    rebuild filters the row-local chunk array — document text never
    crosses a shuffle. Degenerate skew (one chunk shared by millions of
    docs) concentrates only narrow rows on the hot hash. The 60-bit chunk
    hash keeps the shuffle key int64-portable (same trick as
    functions/sqlhash.py); at 10^12-chunk scale widen to the full sha.

    Returns (id_col, n_chunks, n_dropped, cleaned_text): cleaned_text is
    the document with duplicate windows removed, delimiter-rejoined.
    """
    base = chunks_projection(df, id_col, text_col, chunk_tokens, delimiter)
    return _dedup_chunk_arrays(base, id_col, delimiter)


def cdc_chunks_projection(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
    delimiter: str = " ",
) -> DataFrame:
    """Row-local CONTENT-DEFINED chunking (the storage-dedup CDC idea at
    token granularity): a chunk boundary falls AFTER token i whenever the
    token's portable 60-bit hash ≡ 0 (mod ``divisor``), so expected chunk
    length is ``divisor`` tokens. Unlike fixed windows
    (:func:`chunks_projection`), boundaries depend only on LOCAL content:
    inserting one token near the top of a document shifts every
    fixed-window chunk after it (all re-hash as new), but leaves every
    CDC chunk outside the edited neighborhood identical — the
    shift-resistance that makes near-identical file revisions dedup
    against each other. Same portable hash family as sqlhash (DuckDB
    replays boundaries exactly); everything stays in one projection — no
    word explode, no text shuffle."""
    split_re = f"\\Q{delimiter}\\E"

    def h60(tok):
        return (
            F.conv(F.substring(F.sha2(tok, 256), 1, 15), 16, 10).cast("long")
        )

    return (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .withColumn("__words", F.split(F.col(text_col), split_re))
        .withColumn("__n", F.size("__words"))
        .withColumn(
            "__cuts",
            F.when(
                F.col("__n") >= 2,
                F.filter(
                    F.sequence(F.lit(1), F.col("__n") - 1),
                    lambda i: h60(F.element_at("__words", i)) % divisor
                    == F.lit(0),
                ),
            ).otherwise(F.array().cast("array<int>")),
        )
        .withColumn(
            "__starts",
            F.concat(F.array(F.lit(1)), F.transform("__cuts", lambda b: b + 1)),
        )
        .withColumn("__ends", F.concat(F.col("__cuts"), F.array(F.col("__n"))))
        .withColumn(
            "__chunks",
            F.zip_with(
                "__starts",
                "__ends",
                lambda s, e: F.array_join(
                    F.slice("__words", s, e - s + 1), delimiter
                ),
            ),
        )
        .drop("__words", "__n", "__cuts", "__starts", "__ends")
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
    delimiter: str = " ",
) -> DataFrame:
    """Content-defined-chunk exact dedup: :func:`chunk_dedup`'s
    keep-globally-first rule over :func:`cdc_chunks_projection`'s
    shift-resistant chunks — near-identical revisions of a file dedup
    even when an early edit would have shifted every fixed window. Same
    output schema and 100-TB shuffle shape (narrow ownership rows only)."""
    base = cdc_chunks_projection(df, id_col, text_col, divisor, delimiter)
    return _dedup_chunk_arrays(base, id_col, delimiter)


def _dedup_chunk_arrays(
    base: DataFrame, id_col: str, delimiter: str
) -> DataFrame:
    """Shared keep-globally-first machinery over a ``__chunks`` frame:
    narrow (hash60, id, chunk_i) ownership shuffle, per-doc drop arrays,
    row-local rebuild — document text never crosses a shuffle."""
    narrow = base.select(
        F.col(id_col), F.posexplode("__chunks").alias("__ci", "__chunk")
    ).select(
        id_col,
        "__ci",
        F.conv(F.substring(F.sha2(F.col("__chunk"), 256), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc(), F.col("__ci").asc())
    dropped = (
        narrow.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__ci")).alias("__dropped"))
    )
    return (
        base.join(dropped, on=id_col, how="left")
        .withColumn(
            "__kept",
            F.when(F.col("__dropped").isNull(), F.col("__chunks")).otherwise(
                F.filter(
                    F.col("__chunks"),
                    lambda c, i: ~F.array_contains(F.col("__dropped"), i),
                )
            ),
        )
        .select(
            F.col(id_col),
            F.size("__chunks").cast("long").alias("n_chunks"),
            F.coalesce(F.size("__dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            F.array_join("__kept", delimiter).alias("cleaned_text"),
        )
    )


def _boilerplate_rebuild_broadcast(
    base: DataFrame,
    boiler: DataFrame,
    id_col: str,
    carry: list,
    text_col: str,
    segmenter: str,
    sep: str,
    chunk_tokens: int,
    delimiter: str,
) -> DataFrame:
    """Row-local boilerplate rebuild: the (small) boiler hash set is
    driver-collected, broadcast as a sorted int64 array, and one
    Arrow-batched mapInPandas kernel re-segments each document and drops
    segments whose portable 60-bit hash is in the set (vectorized
    np.isin). Replays the relational path's exact segmentation/key/hash
    spec, so both rebuild strategies are output-identical (differential-
    tested): lines → split('\\n') keeping trailing empties, key =
    space-trimmed line, blank keys never counted or removed; windows →
    ceil(n/k) k-token windows of the literal-delimiter split; hash =
    int(sha256(key)[:15 hex], 16)."""
    import hashlib
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    harr = np.sort(boiler.toPandas()["__h"].to_numpy(dtype=np.int64))
    bc = base.sparkSession.sparkContext.broadcast(harr)
    k = int(chunk_tokens)

    in_df = base.select(id_col, *carry, text_col)
    out_schema = T.StructType(
        [f for f in in_df.schema.fields if f.name != text_col]
        + [
            T.StructField("n_segments", T.LongType()),
            T.StructField("n_removed", T.LongType()),
            T.StructField("cleaned_text", T.StringType()),
        ]
    )

    def _h60(key: str) -> int:
        return int(hashlib.sha256(key.encode("utf-8")).hexdigest()[:15], 16)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        H = bc.value
        for pdf in batches:
            n_seg, n_rm, cleaned = [], [], []
            for text in pdf[text_col].tolist():
                if segmenter == "lines":
                    chunks = text.split("\n")
                    keys = [c.strip(" ") for c in chunks]
                else:
                    # str.split never returns [], so nc >= 1 always —
                    # exactly chunks_projection's ceil(size/k)
                    words = text.split(delimiter)
                    nc = -(-len(words) // k)
                    chunks = [
                        delimiter.join(words[i * k : (i + 1) * k])
                        for i in range(nc)
                    ]
                    keys = chunks
                hashes = np.fromiter(
                    (_h60(key) if key != "" else -1 for key in keys),
                    dtype=np.int64,
                    count=len(keys),
                )
                drop = np.isin(hashes, H) & (hashes != -1)
                kept = [c for c, d in zip(chunks, drop) if not d]
                n_seg.append(len(chunks))
                n_rm.append(int(drop.sum()))
                cleaned.append(sep.join(kept))
            out = pdf.drop(columns=[text_col])
            out["n_segments"] = pd.Series(n_seg, dtype="int64")
            out["n_removed"] = pd.Series(n_rm, dtype="int64")
            out["cleaned_text"] = cleaned
            yield out

    return in_df.mapInPandas(kernel, schema=out_schema)


def boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    segmenter: str = "lines",
    chunk_tokens: int = 10,
    delimiter: str = " ",
    carry_cols: tuple = (),
    rebuild: str = "auto",
    max_broadcast_boiler: int = 5_000_000,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the C4 "repeated line" filter,
    pointed at source code): a segment that occurs in ``min_docs`` or more
    DISTINCT documents is boilerplate — license headers, copyright
    banners, generated-file preambles — and is removed from EVERY
    document, first occurrence included. That global-drop rule is the
    semantic difference from :func:`chunk_dedup`, which keeps the first
    occurrence: dedup preserves one copy of duplicated content;
    boilerplate removal deletes content whose cross-document frequency
    marks it as template, not signal.

    ``segmenter='lines'`` splits on newlines; the counting key is the
    whitespace-trimmed line, and blank lines are never counted or removed
    (they are formatting, and would trivially exceed any threshold).
    ``segmenter='windows'`` reuses :func:`chunks_projection`'s row-local
    ``chunk_tokens``-token windows for corpora without line structure.

    100-TB shape (same skeleton as chunk_dedup): segmentation is row-local
    (one projection, no word explode); the only corpus shuffles move
    narrow (hash60, id, seg_i) rows — a countDistinct(id) per hash with
    map-side partial agg; document text never crosses a shuffle. The
    REBUILD step has two strategies (``rebuild``):

    - ``'broadcast'`` — the boilerplate hash set (document-frequency
      bounded: ≤ distinct segments / min_docs, i.e. SMALL at any sane
      production min_docs) is pulled to the driver, broadcast as a sorted
      int64 numpy array, and every document is cleaned ROW-LOCALLY by one
      Arrow-batched mapInPandas kernel (vectorized np.isin membership on
      the same portable sha256-based 60-bit hashes). Zero text-bearing
      shuffles end to end — this is the 10M-run-proven path (the join
      strategy's rebuild spilled ~2× corpus text and died on scratch at
      10M docs with stripping active; round-5 postmortem in
      BENCH/BASELINE.md).
    - ``'join'`` — the original all-relational rebuild: per-doc drop
      indices joined back onto the corpus. The per-doc drop frame can
      exceed the auto-broadcast threshold at corpus scale, and then the
      TEXT side shuffles — keep it for oracle-parity contexts and
      degenerate configs (min_docs so low the boiler set explodes).
    - ``'auto'`` (default) — broadcast when a count of the boiler set is
      ≤ ``max_broadcast_boiler`` (one narrow-agg job; 5M hashes = 40 MB
      broadcast), else join.

    Both strategies are output-identical (differentially tested on
    randomized corpora). Degenerate skew (a header in millions of files)
    concentrates only narrow rows in the counting shuffle either way.

    Returns (id_col, *carry_cols, n_segments, n_removed, cleaned_text):
    cleaned_text is the document with boilerplate segments deleted,
    rejoined with the original separator ('\\n' for lines, ``delimiter``
    for windows). ``carry_cols`` names doc-level columns projected through
    the row-local base frame into the output — a passthrough, NOT a join
    back onto the corpus (the signing-view consumer needs repo/path/sha
    next to the cleaned text without a second text-bearing shuffle). The
    text column itself cannot be carried: its cleaned form is
    ``cleaned_text``.
    """
    if text_col in carry_cols:
        raise ValueError(
            f"carry_cols must not name the text column {text_col!r}; "
            "its cleaned form is returned as cleaned_text"
        )
    carry = [c for c in carry_cols if c != id_col]
    if segmenter == "lines":
        sep = "\n"
        base = (
            df.select(id_col, *carry, text_col)
            .where(F.col(text_col).isNotNull())
            .withColumn("__chunks", F.split(F.col(text_col), "\n", -1))
        )
        key = F.trim(F.col("__chunk"))
    elif segmenter == "windows":
        sep = delimiter
        if carry:
            raise KeyError("carry_cols is only supported with segmenter='lines'")
        base = chunks_projection(df, id_col, text_col, chunk_tokens, delimiter)
        key = F.col("__chunk")
    else:
        raise KeyError(f"unknown boilerplate segmenter: {segmenter!r}")

    narrow = (
        base.select(F.col(id_col), F.posexplode("__chunks").alias("__ci", "__chunk"))
        .withColumn("__key", key)
        .where(F.col("__key") != "")
        .select(
            id_col,
            "__ci",
            F.conv(F.substring(F.sha2(F.col("__key"), 256), 1, 15), 16, 10)
            .cast("long")
            .alias("__h"),
        )
    )
    # Counting shuffle payload (10M postmortem, round 5): the doc identity
    # for countDistinct rides as xxhash64(id) — 8 bytes instead of e.g. a
    # 64-char sha-hex doc_id string, ~6× less exchange volume on the
    # operator's one corpus-wide shuffle. A 64-bit collision can only
    # merge two docs' identities for one segment's count (P ≈ n²/2⁶⁴ —
    # vanishing at any real corpus; same collision class the engine's
    # 60-bit segment hashes already accept by convention).
    boiler = (
        narrow.select("__h", F.xxhash64(F.col(id_col).cast("string")).alias("__did"))
        .groupBy("__h")
        .agg(F.countDistinct("__did").alias("__nd"))
        .where(F.col("__nd") >= int(min_docs))
        .select("__h")
    )
    if rebuild not in ("auto", "broadcast", "join"):
        raise ValueError(f"rebuild must be auto|broadcast|join; got {rebuild!r}")
    strategy = rebuild
    if strategy in ("auto", "broadcast"):
        # persist the (small) boiler result so auto's count() and the
        # broadcast collect don't each re-run the corpus-wide counting
        # shuffle — the single heaviest job in the operator
        boiler = boiler.persist()
    if strategy == "auto":
        strategy = (
            "broadcast" if boiler.count() <= max_broadcast_boiler else "join"
        )
    if strategy == "broadcast":
        out = _boilerplate_rebuild_broadcast(
            base, boiler, id_col, carry, text_col, segmenter, sep,
            chunk_tokens, delimiter,
        )
        boiler.unpersist()
        return out
    dropped = (
        narrow.join(boiler, "__h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__ci")).alias("__dropped"))
    )
    out = (
        base.drop(text_col)
        .join(dropped, on=id_col, how="left")
        .withColumn(
            "__kept",
            F.when(F.col("__dropped").isNull(), F.col("__chunks")).otherwise(
                F.filter(
                    F.col("__chunks"),
                    lambda c, i: ~F.array_contains(F.col("__dropped"), i),
                )
            ),
        )
        .select(
            F.col(id_col),
            *carry,
            F.size("__chunks").cast("long").alias("n_segments"),
            F.coalesce(F.size("__dropped"), F.lit(0)).cast("long").alias("n_removed"),
            F.array_join("__kept", sep).alias("cleaned_text"),
        )
    )
    # auto→join leaves boiler persisted (its count gated the strategy);
    # scope the cache to the result so the join reuses it, then releases
    return tie_cache(out, boiler)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 7,
    w: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, fp) — winnowing fingerprints, one narrow row per distinct
    selected hash (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
    algorithm, public).

    Pipeline per row: lowercase → character ``k``-grams → portable 60-bit
    sha hash mod P (the same cross-engine hash the MinHash SQL path uses,
    functions/sqlhash.py) → in every window of ``w`` consecutive gram
    hashes keep the minimum → distinct selected hashes. The winnowing
    guarantee: any shared substring of length ≥ w + k - 1 contributes at
    least one shared fingerprint; expected density is 2/(w+1), so the
    sketch is ~2m/(w+1) int64s for an m-gram document. This is the
    persistable sketch table for MOSS-style code-clone search; text is
    read once and never crosses a shuffle — only (id, int64) rows do.

    The classic rightmost-tie rule only affects which *position* is
    recorded; this engine keeps hash values only (positions dropped before
    the join), so ties are value-identical either way. Documents shorter
    than k chars hash as one whole-string gram; fewer than w grams yield
    the single global minimum — every row gets ≥1 fingerprint.

    Plan shape: the gram/hash/window arrays are STAGED as separate
    projections on purpose. Folded into one nested expression, Catalyst
    inlines the gram-hash array into every window lambda and the row cost
    goes O(m·w·sha2) → measured 457 s for 500 small docs; staged, each
    array is evaluated once per row (CollapseProject keeps non-cheap
    producers out of lambda consumers) and the same input runs in ~1 s.
    Small-input guard: winnowing is CPU-heavy row-local work, so when the
    incoming frame has fewer partitions than the session's default
    parallelism (tiny file counts — the test/bench shape) we repartition
    by id first; at real scale the scan already yields >= one partition
    per core and no extra shuffle happens.
    """
    from iamsystem_python_spark.functions.sqlhash import P

    # Null text can't fingerprint; filtering here (cheap, pushed to the
    # scan) lets the final explode be explode_outer — see below.
    df = df.where(F.col(text_col).isNotNull())
    if df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism:
        df = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, id_col
        )

    norm = F.lower(F.col(text_col))
    n = F.length(norm)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k) + F.lit(1)),
            lambda i: F.substring(norm, i, F.lit(k)),
        ),
    ).otherwise(F.array(norm))
    staged = df.select(F.col(id_col), grams.alias("_grams"))

    hs = F.transform(
        F.col("_grams"),
        lambda g: F.conv(F.substring(F.sha2(g, 256), 1, 15), 16, 10).cast(
            "long"
        )
        % F.lit(P),
    )
    staged = staged.select(id_col, hs.alias("_hs"))

    m = F.size(F.col("_hs"))
    wins = F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(1), m - F.lit(w) + F.lit(1)),
            lambda j: F.array_min(F.slice(F.col("_hs"), j, F.lit(w))),
        ),
    ).otherwise(F.array(F.array_min(F.col("_hs"))))
    staged = staged.select(id_col, F.array_distinct(wins).alias("_fps"))

    # explode_outer, NOT explode: a plain explode makes Catalyst infer a
    # `size(_fps) > 0 AND isnotnull(_fps)` filter from the Generate, and
    # filter pushdown then drags the WHOLE fingerprint expression below
    # the repartition exchange, fully re-inlined, onto the (possibly
    # single-partition) scan side — measured 235 s vs ~2 s for 500 docs.
    # Every non-null text yields >= 1 fingerprint, so outer is identical.
    return staged.select(
        F.col(id_col), F.explode_outer(F.col("_fps")).alias("fp")
    )


def winnow_fingerprints_kernel(
    df: DataFrame,
    text_col: str = "text",
    k: int = 7,
    w: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, fp) winnowing fingerprints via the vectorized numpy kernel
    (functions/hashing.winnow_fingerprints_np) — the throughput twin of
    `winnow_fingerprints`. Identical gram/window/distinct STRUCTURE and
    guarantees, different hash family (splitmix64 rolling polynomial vs
    the SQL path's cross-engine sha256-mod-P), so fingerprint VALUES
    differ — use the SQL path wherever a DuckDB replay must hold, this
    one for real corpora. Measured: parity at ~300-char docs (both
    overhead-bound), ~85× at 15 KB docs (500-doc sample: 0.73 s vs
    62 s — the interpreted higher-order-function path is O(m·w) per doc
    and CPU-bound at seconds/doc once m reaches ~15k grams; see
    BENCH/PLANS.md). mapInPandas with Arrow batches; output rows are
    narrow (id, int64) — text still never shuffles."""
    import numpy as np
    import pandas as pd

    from iamsystem_python_spark.functions.hashing import (
        winnow_fingerprints_np,
    )

    def gen(batches):
        for pdf in batches:
            ids, fps = [], []
            for i, t in zip(pdf[id_col].values, pdf[text_col].values):
                if t is None:
                    continue
                u = winnow_fingerprints_np(t, k, w)
                # uint64 → int64 view: two's-complement wrap; downstream
                # uses equality only, so the reinterpretation is lossless
                fps.append(u.view(np.int64))
                ids.append(np.full(len(u), i, dtype=np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "fp": np.concatenate(fps),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, fp long"
    )


def winnowing_pairs_sql(
    df: DataFrame,
    text_col: str = "text",
    k: int = 7,
    w: int = 5,
    threshold: float = 0.5,
    max_fp_docs=None,
    id_col: str = "doc_id",
    impl: str = "sql",
) -> DataFrame:
    """MOSS-style fingerprint-overlap pairs: (doc_a, doc_b, shared_fp, sim)
    with sim = |FP(a) ∩ FP(b)| / min(|FP(a)|, |FP(b)|) — the containment
    form, so a small file winnow-pasted into a big one still scores high.

    Plan shape (the 100-TB lens): fingerprints are exploded to narrow
    (id, int64) rows, the candidate join is a plain equi self-join on fp —
    never all-pairs — and the pair aggregate is one map-side-combinable
    groupBy. Per-doc sketch sizes join back via two broadcast-size-agnostic
    equi-joins on id. ``max_fp_docs`` drops fingerprints present in more
    than that many documents (shared license headers / generated preambles
    — the code-corpus hot keys) before the self-join, with the dropped
    rows surfaced as the observe metric ``winnow_block_cap``
    (dedup.bucket_pairs); denominators stay the FULL sketch sizes
    so capping only lowers scores, never inflates them. With
    ``max_fp_docs=None`` the computation is exactly replayable in ANSI SQL
    (the q68 DuckDB oracle).

    ``impl``: "sql" (default) uses the cross-engine sha256 fingerprints
    (oracle-replayable); "kernel" swaps in the vectorized numpy sketch
    (winnow_fingerprints_kernel) — same structure and guarantees, a
    different hash family, ~85× faster on 15 KB documents (the SQL
    expression path is O(m·w) interpreted per doc — fine at oracle
    scale, not at corpus doc sizes). Everything downstream of the
    sketch is identical.
    """
    if impl == "kernel":
        sketch = winnow_fingerprints_kernel(df, text_col, k, w, id_col)
    elif impl == "sql":
        sketch = winnow_fingerprints(df, text_col, k, w, id_col)
    else:
        raise KeyError(f"unknown winnowing impl: {impl!r}")
    # fps feeds the sketch-size aggregate, (optionally) the hot-fp count,
    # and both sides of the self-join — persist it once, scoped to the
    # returned frame (same tie_cache pattern as the LSH bands frame).
    fps = sketch.persist()
    nfp = fps.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    pairs = (
        bucket_pairs(
            fps.select(F.col(id_col).alias("doc"), "fp"),
            "doc",
            "fp",
            cap=max_fp_docs,
            tag="winnow",
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fp"))
    )
    na = nfp.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("_na"))
    nb = nfp.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("_nb"))
    sim = F.col("shared_fp") / F.least(F.col("_na"), F.col("_nb"))
    out = (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(sim >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            "shared_fp",
            F.round(sim, 6).alias("sim"),
        )
    )
    return tie_cache(out, fps)


def cluster_representatives(
    clusters: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick the document to KEEP from each near-duplicate cluster — the
    policy step between clustering and the rewrite/drop pass. The naive
    rule (keep min doc_id) throws away the best copy whenever a truncated
    or boilerplate-padded variant happens to have the smaller id; the
    standard recipe keeps the highest-quality member (longest, or best
    quality_score) with id ascending as the deterministic tie-break.

    Input: ``clusters`` = (doc_id, cluster_id) as produced by
    near_dup_clusters_sql / cc.connected_components; ``docs`` carries the
    quality column. Output: one row per cluster —
    (cluster_id, rep_doc_id, cluster_size, rep_<quality_col>).

    Scale: the join ships only (doc_id, quality) against the cluster map
    — text is never touched — and the window partitions by cluster_id;
    near-dup clusters are small by construction (verified pairs), so no
    skew handling is needed beyond what AQE provides. One shuffle on
    cluster_id, map-side-combinable size aggregate folded into the same
    window pass.
    """
    q = docs.select(F.col(id_col), F.col(quality_col))
    joined = clusters.join(q, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")),
        )
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("rep_doc_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col(quality_col).alias(f"rep_{quality_col}"),
        )
    )


def template_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ident_pattern: str = "^[a-z][a-z0-9_]*$",
    min_group: int = 2,
) -> DataFrame:
    """Type-2 clone / template groups via blind-consistent identifier
    renaming (the classic code-clone normalization — CCFinder/NiCad
    family, public literature): every token matching ``ident_pattern``
    is replaced by ``I<first-occurrence index in the token stream>``, all
    other tokens (numbers, punctuation-bearing words, symbols) stay
    verbatim, and the renamed stream is sha256-fingerprinted. Two
    documents collide iff they share the exact token structure up to a
    consistent renaming of identifier-ish tokens — renamed code clones,
    or template-generated web pages differing only in substituted words
    (the MadLibs-spam shape).

    Returns (id, tpl_sha, tpl_size) for documents in groups of at least
    ``min_group`` members.

    Plan shape: tokenization, classification, first-occurrence renaming
    (array_position against the row's own token array — row-local, no
    join) and hashing are all per-row projections; the only shuffle is
    the window over tpl_sha (64-hex-char key, narrow rows). Text never
    crosses a shuffle. Arrays are STAGED as separate projections — same
    Catalyst re-inlining hazard as winnow_fingerprints (see that
    docstring): folded into one expression, the token array would be
    recomputed for every array_position probe.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: t != F.lit(""),
    )
    staged = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_toks")
    )
    renamed = F.transform(
        F.col("_toks"),
        lambda t: F.when(
            t.rlike(ident_pattern),
            F.concat(
                F.lit("I"),
                F.array_position(F.col("_toks"), t).cast("string"),
            ),
        ).otherwise(t),
    )
    staged = staged.select(
        id_col, F.sha2(F.array_join(renamed, " "), 256).alias("tpl_sha")
    )
    win = Window.partitionBy("tpl_sha")
    return (
        staged.withColumn("tpl_size", F.count("*").over(win))
        .where(F.col("tpl_size") >= min_group)
        .select(id_col, "tpl_sha", "tpl_size")
    )


def novel_docs_verdicts(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Admission verdict for every doc of a NEW ingest batch against the
    historical corpus — the user-facing composition of the two dedup
    indexes a production ingest keeps (content-sha set + MinHash
    signature store): (doc_id, verdict, dup_of) with verdict ∈
    {'exact_dup', 'near_dup', 'novel'}.

    Rules (deterministic, order-free):
    - ``exact_dup``: sha256(text) matches any history doc, or a
      smaller-id batch doc (within-batch keep-first).
    - ``near_dup``: else, the doc has an LSH-verified pair (jaccard ≥
      threshold) against history, or against a smaller-id batch doc
      (smaller id wins — greedy, not transitive: a doc rejected by an
      already-rejected smaller partner stays rejected; conservative and
      replayable without iteration).
    - ``novel`` otherwise. ``dup_of`` = smallest triggering partner id
      (-1 for novel).

    Plan shape: shas shuffle as (doc_id, 64-char sha) — text never
    crosses; exact pairs (on the sha) and near-dup pairs (via
    ``incremental_lsh_pairs_sql``) both come from the batch-vs-store pair
    join ``dedup.bucket_pairs`` (store pre-filtered by a broadcast of the
    batch's keys and streamed once, no old-old pairs); the
    final assembly is two left joins of per-doc minima onto the batch
    id list. At 10^12 files both indexes are persisted parquet and this
    runs per nightly batch."""
    sha = F.sha2(F.col(text_col), 256)
    exact = bucket_pairs(
        new_df.select(F.col("doc_id").alias("doc"), sha.alias("sha")),
        "doc",
        "sha",
        store=history_df.select(F.col("doc_id").alias("doc"), sha.alias("sha")),
    )
    exact_min = _min_partner(new_df, exact, "exact_dup_of")

    index = build_minhash_index(history_df, text_col, k, num_perm, seed)
    pairs = incremental_lsh_pairs_sql(
        new_df, index, text_col, k, num_perm, num_bands, threshold, seed
    )
    near_min = _min_partner(new_df, pairs, "near_dup_of")
    return _verdict_assembly(new_df, exact_min, near_min)


def _verdict_assembly(
    new_df: DataFrame, exact_min: DataFrame, near_min: DataFrame
) -> DataFrame:
    """Final verdict rows from per-doc exact/near minimum partners: two
    left joins onto the batch id list, precedence exact > near > novel."""
    return (
        new_df.select("doc_id")
        .join(exact_min, "doc_id", "left")
        .join(near_min, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce("exact_dup_of", "near_dup_of", F.lit(-1)).alias(
                "dup_of"
            ),
        )
    )


def _min_partner(new_df: DataFrame, pairs: DataFrame, name: str) -> DataFrame:
    """Per-batch-doc smallest partner ``name`` from batch-vs-store pairs
    (doc_a, doc_b, pair_side): new-new pairs mark only the larger id
    (smaller-id-wins greedy); new-old pairs mark the new side with the old
    partner regardless of id order."""
    nn = pairs.where(F.col("pair_side") == "new-new").select(
        F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("dup_of")
    )
    new_ids = new_df.select(F.col("doc_id").alias("nid"))
    no = (
        pairs.where(F.col("pair_side") == "new-old")
        .join(
            new_ids.withColumn("a_new", F.lit(True)),
            F.col("doc_a") == F.col("nid"),
            "left",
        )
        .select(
            F.when(F.col("a_new"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id"),
            F.when(F.col("a_new"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("dup_of"),
        )
    )
    return (
        nn.unionByName(no).groupBy("doc_id").agg(F.min("dup_of").alias(name))
    )


def novel_docs_verdicts_vs_stores(
    spark,
    new_df: DataFrame,
    sha_index_path: str,
    minhash_index: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    sha_prefix_len: int = 2,
) -> DataFrame:
    """``novel_docs_verdicts`` against PERSISTED indexes only — the full
    production nightly shape at 10^12 files, where historical TEXT is
    never touched: the exact stage probes the prefix-partitioned content-
    sha index (operators/shaindex — partition-pruned read of only the
    batch's sha prefixes), the near stage probes the MinHash signature
    store (``incremental_lsh_pairs_sql`` — band keys re-derived from the
    stored sig columns). Verdict rules and output schema are identical to
    ``novel_docs_verdicts`` (equivalence pinned by a randomized test);
    the only data read beyond the batch is index rows.

    When to use — measured honestly (BENCH/PLANS.md): on a warm same-host
    corpus the TEXT-backed path is FASTER (interleaved 150k×200-token
    history: text 2.3-4.0 s vs store 3.1-5.3 s), because the store's
    ``hset`` verification column is O(text) and, being incompressible
    random hashes, its parquet is ~2.25× the raw text's (254 MB vs
    113 MB here) while re-signing is cheap whole-stage-codegen CPU. The
    store-backed path is for when history TEXT cannot be touched at all:
    archived/cold storage tiers, a text table owned by another team, or
    compliance boundaries — and its fixed-width part (sha + sig columns,
    ~200 bytes/doc) is the piece that is genuinely ≪ text; for
    byte-bound probes drop hset and use the b-bit estimation store
    (``compress_minhash_index_bbit``, q59) which trades exact
    verification for fixed-width-only reads.

    Roll both stores forward after admission:
    ``write_sha_index(admitted, path, mode='append')`` and
    ``index.unionByName(build_minhash_index(admitted, ...))``."""
    from iamsystem_python_spark.operators.shaindex import (
        exact_dups_vs_sha_index,
    )

    sha = F.sha2(F.col(text_col).cast("string"), 256)
    exact_hist = exact_dups_vs_sha_index(
        spark, new_df, sha_index_path, text_col, sha_prefix_len
    ).select("doc_id", F.col("dup_of").alias("o_id"))
    exact_batch = bucket_pairs(
        new_df.select(F.col("doc_id").alias("doc"), sha.alias("sha")), "doc", "sha"
    ).select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("o_id"))
    exact_min = (
        exact_hist.unionByName(exact_batch)
        .groupBy("doc_id")
        .agg(F.min("o_id").alias("exact_dup_of"))
    )
    pairs = incremental_lsh_pairs_sql(
        new_df, minhash_index, text_col, k, num_perm, num_bands, threshold, seed
    )
    near_min = _min_partner(new_df, pairs, "near_dup_of")
    return _verdict_assembly(new_df, exact_min, near_min)


def novel_docs_filter(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """The admitted subset of ``new_df``: rows whose
    ``novel_docs_verdicts`` verdict is 'novel' (semi-join on doc_id —
    batch text columns pass through untouched)."""
    keep = novel_docs_verdicts(new_df, history_df, text_col, **kwargs).where(
        F.col("verdict") == "novel"
    )
    return new_df.join(keep.select("doc_id"), "doc_id", "left_semi")


def near_dup_audit(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    num_bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster-size audit of a near-dup run — the report a 100-TB dedup
    job publishes before anyone deletes anything: one row per observed
    cluster size with (n_clusters, n_docs, frac_of_corpus, removable),
    where removable = n_docs − n_clusters (keep one representative per
    cluster). Mega-cluster rows at the tail are the skew early-warning:
    a cluster of 10^6 boilerplate files shows up here as one row long
    before it melts a verification join downstream.

    Plan shape: rides on ``near_dup_clusters_sql`` (banded LSH, never
    all-pairs); the audit itself adds two narrow aggregations
    (cluster_id → size, size → histogram) and one crossJoin(broadcast)
    single-row total — no collect, no extra text scan."""
    clusters = near_dup_clusters_sql(
        df, text_col, k, num_perm, num_bands, threshold
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    total = df.select(F.count("*").alias("n_total"))
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
    return hist.crossJoin(F.broadcast(total)).select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_total"), 6).alias("frac_of_corpus"),
        (F.col("n_docs") - F.col("n_clusters")).alias("removable"),
    )


def type1_clone_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_group: int = 2,
) -> DataFrame:
    """Type-1 clone groups — identical code modulo comments and layout
    (the first level of the classic clone taxonomy; type-2, consistent
    renaming, is ``template_fingerprints``; near-miss similarity is the
    winnowing/MinHash family). Normalization, in order:

    1. strip ``/* ... */`` block comments (non-greedy, across lines),
    2. strip ``//`` and ``#`` line comments (to end of line),
    3. collapse every whitespace run to one space, trim.

    The normalized form is sha256-fingerprinted; docs sharing a
    fingerprint in groups of ≥ ``min_group`` are type-1 clones. Regex
    normalization is the documented heuristic (a comment marker inside
    a string literal is treated as a comment — the standard trade of
    lexer-free clone detectors); all three patterns live in the
    Java-regex ∩ RE2 dialect so an oracle replays them byte-for-byte.

    Returns (id, norm_sha, group_size) for clone-group members.
    Plan shape: normalization is row-local codegen; the only shuffle is
    the group-size window over the 64-char norm_sha — text never
    crosses it."""
    c = F.col(text_col)
    norm = F.regexp_replace(c, r"(?s)/\*.*?\*/", " ")
    norm = F.regexp_replace(norm, r"(//|#)[^\n]*", " ")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    fp = df.where(c.isNotNull()).select(
        F.col(id_col), F.sha2(norm, 256).alias("norm_sha")
    )
    w = Window.partitionBy("norm_sha")
    return (
        fp.withColumn("group_size", F.count("*").over(w))
        .where(F.col("group_size") >= min_group)
        .select(id_col, "norm_sha", "group_size")
    )


def pair_evidence(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Explanation columns for an audit list of document pairs — the
    'why were these two clustered (or not)?' debugging face of the dedup
    stack: per (doc_a, doc_b), the distinct-shingle counts of both
    sides, the shared-shingle count, exact Jaccard, and the SimHash
    Hamming distance, all computed with the SAME portable shingle/hash
    spec the production operators use, so the numbers are exactly the
    ones the pipeline's thresholds saw.

    Plan shape: sized for audit lists (the pairs frame is small and
    broadcasts into the two shingle joins); per-doc shingles and
    SimHashes come from the shared builders. Never feed a quadratic
    pair list — this is a magnifying glass, not a matcher."""
    sh = shingle_hash_rows(df, text_col, k, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pa = pairs.select("doc_a", "doc_b")
    shared = (
        pa.join(sh.select(F.col("doc_id").alias("doc_a"), "h60"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "h60"), ["doc_b", "h60"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    sim = simhash_sql(df, text_col, k, bits)
    n_a, n_b = F.col("n_sh_a"), F.col("n_sh_b")
    shared_c = F.coalesce(F.col("shared"), F.lit(0))
    return (
        pa.join(shared, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b")
            ),
            "doc_b",
        )
        .join(
            sim.select(
                F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a")
            ),
            "doc_a",
        )
        .join(
            sim.select(
                F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            shared_c.alias("shared_shingles"),
            "n_sh_a",
            "n_sh_b",
            F.round(shared_c / (n_a + n_b - shared_c), 6).alias("jaccard"),
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("int")
            .alias("hamming"),
        )
    )
