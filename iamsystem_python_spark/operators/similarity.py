"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k per query — the baseline; pure
  pyspark.sql (F.zip_with dot product + window rank), no UDF.
- lsh_bucketed_topk: random-hyperplane LSH pre-filter, then exact rerank —
  the scale path: candidates share ≥1 of `num_tables` sign-pattern buckets,
  so the join is equi on (table, bucket) instead of a full cross.
- cosine_neardup_pairs: near-dup by embedding cosine within blocks.

At 10^12 scale the bucketed variant is the only viable one: the cross join
in brute force is O(n·q); LSH makes it O(candidates). Both share the same
rerank expression so results are directly comparable.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iamsystem_python_spark.operators.dedup import bucket_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query side, rank with a
    window. Returns (query_id, neighbor_id, rank, cosine)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    it = items.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("i_vec"))
    scored = (
        it.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_col(F.col("q_vec"), F.col("i_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hyperplanes(dim: int, bits: int, num_tables: int, seed: int = 42) -> List[List[List[float]]]:
    """Deterministic random hyperplanes [table][bit][dim]."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_tables, bits, dim)).tolist()


def lsh_bucketed_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: sign-pattern bucket join then exact cosine rerank.
    Bucket code per table = bits of sign(v·h_i) — computed as a SQL
    expression over the array column (no UDF)."""
    planes = hyperplanes(dim, bits, num_tables, seed)

    def bucket_expr(vec, table: int):
        code = F.lit(0)
        for bit in range(bits):
            h = planes[table][bit]
            dot = F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in h]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            code = code + F.when(dot > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        return code

    def with_buckets(df, id_alias):
        # One pass over the source: all per-table bucket codes are computed
        # in a single projection and exploded, exactly like the MinHash band
        # explode (dedup_text.py) — a union of num_tables projections would
        # re-execute the source scan per table (the round-1 fan-out trap).
        # Only the id rides along: the bucket join + candidate dedup shuffle
        # ids, never vectors (at dim=512 a vector is ~100× the key width;
        # shipping it through the distinct Exchange once per surviving
        # bucket co-occurrence was the round-2 payload bug).
        per_table = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table_id"),
                    bucket_expr(F.col(vec_col), t).alias("bucket"),
                )
                for t in range(num_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(id_alias),
            F.explode(per_table).alias("tb"),
        ).select(id_alias, "tb.table_id", "tb.bucket")

    it = with_buckets(items, "neighbor_id")
    q = with_buckets(queries, "query_id")
    cand = (
        it.join(q, ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # re-attach vectors AFTER the id-only dedup: one equi-join per side
    # against the id→vec projection, so each vector crosses the wire once
    # per distinct pair, not once per bucket co-occurrence
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    i_vecs = items.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("i_vec")
    )
    scored = (
        cand.join(q_vecs, "query_id")
        .join(i_vecs, "neighbor_id")
        .withColumn("cosine", F.round(cosine_col(F.col("q_vec"), F.col("i_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    block_col: Optional[str] = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked (quadratic only within
    a block). block_col=None ⇒ full cross join (test scale only).
    ``max_block_size`` drops over-cap blocks (observe metric
    ``cosine_rows_dropped``) so a misconfigured block column can't go O(B²)
    silently at scale — use lsh_bucketed_topk / ivf_topk for large blocks."""
    base = df.select(
        *( [F.col(block_col).alias("blk")] if block_col else [F.lit(0).alias("blk")] ),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    return (
        bucket_pairs(base, "id", "blk", cap=max_block_size, tag="cosine")
        .withColumn("cosine", F.round(cosine_col(F.col("vec_a"), F.col("vec_b")), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
):
    """Deterministic coarse quantizer for IVF: numpy Lloyd iterations on a
    driver-side sample (the quantizer is the SMALL side — k·dim floats —
    exactly like the broadcast dictionary trie; the 10^12-row side never
    collects). Returns List[List[float]] (k × dim)."""
    import numpy as np

    # Seeded hash filter + hash-ordered limit over the FILTERED frame:
    # deterministic w.r.t. content regardless of partition layout (a bare
    # filter+limit keeps whichever rows the scan delivers first whenever
    # the filter passes more than `sample`). `mod` is widened geometrically
    # from a corpus-scale starting point instead of being sized from
    # `df.count()` — a count() is a full scan at 10^12 rows just to size
    # one knob, and the old under-fill fallback re-ranked the WHOLE corpus.
    # Here every branch filters first, and every orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition top-k + driver merge — no global
    # Sort node in any branch of the plan). At 10^12 rows the first mod
    # already passes ~n/2^22 rows, so the widen loop (each step one cheap
    # filtered scan) only iterates on small corpora where scans are trivial.
    order = F.xxhash64(vec_col, F.lit(seed + 1))
    enough = min(sample, 4 * k)
    mod = 1 << 22
    while True:
        sampled = df.select(vec_col).where(
            F.pmod(F.xxhash64(vec_col, F.lit(seed)), F.lit(mod)) == 0
        )
        rows = sampled.orderBy(order).limit(sample).collect()
        if len(rows) >= enough or mod == 1:
            break
        mod = max(1, mod >> 6)
    x = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cent)):
            m = assign == j
            if m.any():
                cent[j] = x[m].mean(0)
    return cent.tolist()


def _nearest_centroids_expr(vec, centroids, nprobe: int):
    """Array of the `nprobe` nearest centroid ids — pure SQL expressions
    (k dot products per row, JVM-side), no UDF."""
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(float(v)) for v in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.slice(F.transform(F.array_sort(dists), lambda s: s.cid), 1, nprobe)


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize items to their nearest
    centroid (inverted lists = a partitioned table), probe each query's
    `nprobe` nearest lists, exact cosine rerank inside the probed lists.
    The list assignment is a plain equi-join key, so at cluster scale the
    inverted index is just a table partitioned/bucketed by cell id — scan
    pruning does the work LSH does with band buckets, with better recall
    control (nprobe) on clustered data."""
    centroids = kmeans_centroids(items, n_centroids, seed=seed, vec_col=vec_col)
    it = items.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("i_vec"),
        F.element_at(_nearest_centroids_expr(F.col(vec_col), centroids, 1), 1).alias(
            "cell"
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(_nearest_centroids_expr(F.col(vec_col), centroids, nprobe)).alias(
            "cell"
        ),
    )
    scored = (
        q.join(it, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_col(F.col("q_vec"), F.col("i_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    num_anchors: int = 8,
    threshold: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    cluster by nearest anchor, then drop any row whose cluster holds a
    smaller-id row within cosine ``threshold``.

    Stage shape (the 100-TB lens):

    1. **Anchors** — the ``num_anchors`` rows with the smallest
       ``md5(cast(id as string))`` digests. A seeded-hash global sample
       that is (a) deterministic w.r.t. content regardless of partition
       layout, (b) a ``TakeOrderedAndProject`` (per-partition top-k +
       driver merge, no global sort), and (c) exactly replayable in
       ANSI SQL — unlike Lloyd iterations (``kmeans_centroids`` is the
       refined-quantizer path when replayability is not needed).
    2. **Assignment** — anchors collect to the driver (k·dim floats —
       the SMALL side, same as ``kmeans_centroids``' quantizer) and are
       embedded as literal vectors in ONE projection: each row computes
       ``num_anchors`` cosines inside codegen and takes the argmax via
       ``array_sort`` on (−cos, anchor_id) structs. Strictly map-side —
       no crossJoin-then-window (that shape shuffles n·k rows to group
       by id), no shuffle, no UDF. Scale k with n like SemDeDup's
       ~100k clusters; k literals per projection stay in one codegen
       stage into the thousands.
    3. **Prune** — equi self-join on ``anchor_id``; a row is dropped
       iff a smaller-id member of the same cluster is within
       ``threshold``. Quadratic only within a cluster, so the cap
       ``max_cluster_size`` (observe metric ``semdedup_rows_dropped``)
       bounds the worst cell exactly like ``cosine_neardup_pairs``.
       The final keep join on ``id`` is NOT broadcast by hand: at web
       scale the dropped set is O(n) (30-50% dup rates), so it must be
       allowed to shuffle; AQE downgrades it to broadcast when small.

    Returns (id, anchor_id, anchor_cos, keep) — every input row, with
    ``keep=false`` on the semantic duplicates. The keep rule is
    order-free (NOT EXISTS over id-ordered pairs), so the result is
    deterministic and embarrassingly parallel — no greedy sequential
    scan over cluster members.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # TakeOrderedAndProject (per-partition top-k + driver merge); k rows
    anchor_rows = (
        base.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(num_anchors)
        .collect()
    )
    # argmax over literal anchor vectors in one projection. Anchor values
    # become DOUBLE literals, so the dot multiplies float32·float64 —
    # the oracle replays exactly that (vs the float32·float32 fold of the
    # table-vs-table prune below). Rounding to 6 BEFORE the argmax makes
    # the ordering robust to sub-1e-6 engine differences; exact ties
    # (duplicate vectors) break to the smaller anchor id on both engines.
    arr = F.array(
        *[
            F.struct(
                (
                    -F.round(
                        cosine_col(
                            F.col("vec"),
                            F.array(*[F.lit(float(x)) for x in r["vec"]]),
                        ),
                        6,
                    )
                ).alias("nc"),
                F.lit(r["id"]).alias("aid"),
            )
            for r in anchor_rows
        ]
    )
    best = F.element_at(F.array_sort(arr), 1)
    assigned = base.select(
        "id",
        best["aid"].alias("anchor_id"),
        (-best["nc"]).alias("anchor_cos"),
        "vec",
    )
    # assigned feeds both the prune self-join and the final keep join;
    # persist scoped to the returned frame so the k-cosine projection and
    # the source scan run once (tie_cache releases when the result dies)
    assigned = assigned.persist()
    dropped = (
        bucket_pairs(
            assigned.select(F.col("anchor_id").alias("blk"), "id", "vec"),
            "id",
            "blk",
            cap=max_cluster_size,
            tag="semdedup",
        )
        .where(cosine_col(F.col("vec_a"), F.col("vec_b")) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    from iamsystem_python_spark.functions.scoped_cache import tie_cache

    out = (
        assigned.drop("vec")
        .join(dropped.withColumn("is_dup", F.lit(True)), "id", "left")
        .select(
            "id",
            "anchor_id",
            "anchor_cos",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("keep"),
        )
    )
    return tie_cache(out, assigned)


def jl_sign(i: int, j: int) -> int:
    """±1 entry (i, j) of the portable Johnson–Lindenstrauss sign matrix:
    +1 iff the low bit of the first 60 bits of sha256("i,j") is 0 — the
    same sha-derived portable-hash convention as functions/sqlhash, so
    any engine (or the DuckDB oracle) derives the identical matrix from
    the spec alone; no RNG state to ship."""
    import hashlib

    h = int(hashlib.sha256(f"{i},{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 8,
    in_dim: int = 64,
) -> DataFrame:
    """Random-sign Johnson–Lindenstrauss projection (Achlioptas 2003,
    public): proj_j = Σ_i v_i · sign(i, j) — the dimensionality-reduction
    stage in front of brute-force / LSH / IVF ANN when 100-TB embedding
    tables make the full vectors the shuffle payload. ±1 signs avoid
    multiplications entirely; distances are preserved within the JL
    bound in expectation (unit-tested on planted geometry, not assumed).

    The sign matrix is CONSTANT-FOLDED into the projection expressions
    (jl_sign is evaluated at plan time — zero per-row hash cost, pure
    whole-stage codegen adds/subtracts; ~in_dim·out_dim addends in the
    expression tree, fine for out_dim ≤ ~32; beyond that use the
    mapInPandas kernel family like operators/multimodal). Returns
    (id, proj array<double>), elements in input-vector double precision,
    un-rounded."""
    v = F.col(vec_col)
    outs = []
    for j in range(out_dim):
        terms = None
        for i in range(in_dim):
            t = F.element_at(v, i + 1).cast("double") * F.lit(
                float(jl_sign(i, j))
            )
            terms = t if terms is None else terms + t
        outs.append(terms)
    return df.select(F.col(id_col), F.array(*outs).alias("proj"))
