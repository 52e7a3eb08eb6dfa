"""Range (interval-overlap) join — the second custom join the task brief
names alongside as-of (operators/asof.py).

The declarative form ``l.start <= r.end AND r.start <= l.end`` is an
inequality join: Spark executes it as a broadcast nested loop (or cartesian)
— O(|L|·|R|) — which is unusable at scale. The scale shape implemented here
is the classic **bucketed interval join**: explode every interval into the
fixed-width buckets it touches, equi-join on the bucket id (hash join,
shuffles only on the bucket key), then filter to true overlaps.

Duplicate elimination is FREE (no distinct shuffle): an overlapping pair
shares every bucket the overlap region touches, so we keep the pair only in
the single bucket containing the overlap's START
(``floor(greatest(l.start, r.start) / width)``) — each true pair survives
exactly once.

Bucket width tuning: width ≈ the typical interval length keeps the fanout
per row at ~2 buckets. A degenerate long interval fans out into
span/width buckets; ``max_span_buckets`` drops such rows, and each drop is
surfaced as a named ``observe`` metric (``range_{l,r}_rows_dropped`` —
read it from a QueryExecutionListener / ``Observation``), mirroring the
bucket-cap backstop of ``dedup.bucket_pairs``. Drops are never silent.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucketed(
    df: DataFrame,
    start: str,
    end: str,
    width: int,
    max_span_buckets: Optional[int],
    tag: str,
) -> DataFrame:
    b0 = F.floor(F.col(start) / width)
    b1 = F.floor(F.col(end) / width)
    if max_span_buckets is not None:
        # surface over-span drops as a named metric (same pattern as
        # the dedup.bucket_pairs cap) so degenerate-interval loss is visible
        # at scale, then filter
        df = df.observe(
            f"{tag}_span_cap",
            F.sum(
                F.when(b1 - b0 >= max_span_buckets, 1).otherwise(0)
            ).alias(f"{tag}_rows_dropped"),
        ).where((b1 - b0) < max_span_buckets)
    return df.withColumn("__bucket", F.explode(F.sequence(b0, b1)))


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
    extra_pred: Optional[Column] = None,
    max_span_buckets: Optional[int] = None,
) -> DataFrame:
    """All (left, right) row pairs whose [start, end] intervals overlap
    (closed intervals, numeric columns — cast timestamps to epoch seconds
    upstream). Column names must be disjoint between the two sides (alias
    them upstream; for a self-join, prefix each side). ``extra_pred`` is
    ANDed into the post-join filter (e.g. a key equality or an a<b
    symmetric-pair cut)."""
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(
            f"column names {sorted(clash)} appear on both sides; alias them"
        )
    lb = _bucketed(left, l_start, l_end, bucket_width, max_span_buckets, "range_l")
    rb = _bucketed(right, r_start, r_end, bucket_width, max_span_buckets, "range_r")
    overlap = (F.col(l_start) <= F.col(r_end)) & (F.col(r_start) <= F.col(l_end))
    # keep each true pair only in the bucket where its overlap starts
    once = F.col("__bucket") == F.floor(
        F.greatest(F.col(l_start), F.col(r_start)) / bucket_width
    )
    cond = overlap & once
    if extra_pred is not None:
        cond = cond & extra_pred
    return lb.join(rb, on="__bucket").where(cond).drop("__bucket")
