"""Merkle-style directory-subtree deduplication over a code table.

Finds duplicated directory subtrees (vendored libraries, copied template
projects, forked repos) across a corpus of (repo, path, sha) file rows —
the directory-granularity counterpart of the engine's file-granularity
exact dedup (dedup_text.py) and the repo-granularity merged-sketch
similarity (dedup_text.group_minhash_pairs_sql).

Spark-first formulation: a recursive bottom-up tree hash (the way a
single-node tool would do it) becomes ONE explode + ONE aggregation —
each file row is exploded to every directory-prefix ancestor of its
path, carrying its path RELATIVE to that ancestor; the subtree hash of
a directory is then sha256 over the sorted (relpath, file_sha) pairs
grouped under it. Two directories get equal hashes iff their entire
recursive file sets are identical in both relative layout and content,
with no iteration and no driver-side tree walk.

100-TB lens: exploded rows are narrow (repo, dir, relpath, sha) — text
never enters the operator; blow-up factor equals mean path depth
(bounded ~5-8 on real code corpora). The single shuffle keys on
(repo, dir). A mega-directory (one dir holding millions of files)
concentrates its narrow rows on one reducer — run ``cap_mega_dirs``
first when the corpus may contain such degenerate layouts (drops are
surfaced via an observe metric, never silent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ancestor_dirs(path):
    """Array of every proper directory prefix of ``path`` ('' = repo
    root): 'a/b/c.py' → ['', 'a', 'a/b']. Built from the split parts so
    separators never need re-parsing."""
    parts = F.split(path, "/")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: F.array_join(F.slice(parts, F.lit(1), i), "/"),
    )


def subtree_hashes(
    df: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    sha_col: str = "sha",
) -> DataFrame:
    """(repo, dir, n_files, subtree_sha) for EVERY directory of every
    repo, where subtree_sha is sha256 over the newline-joined, relpath-
    sorted ``relpath:file_sha`` entries of the full recursive file set
    under that directory. Equal subtree_sha ⟺ byte-identical subtree
    (same relative layout, same file contents), assuming per-file shas
    are content hashes. dir='' is the whole-repo hash, so repo-level
    exact dedup falls out of the same pass."""
    repo, path, sha = F.col(repo_col), F.col(path_col), F.col(sha_col)
    # stage the ancestor array as its own projection before exploding —
    # the Catalyst re-inlining hazard (see dedup_text.winnow_fingerprints)
    staged = df.select(
        repo.alias("repo"), path.alias("path"), sha.alias("sha")
    ).withColumn("_anc", _ancestor_dirs(F.col("path")))
    exploded = staged.select(
        "repo",
        "path",
        "sha",
        F.explode("_anc").alias("dir"),
    ).select(
        "repo",
        "dir",
        # path relative to the ancestor: strip 'dir/' (root strips nothing)
        F.when(
            F.col("dir") == "",
            F.col("path"),
        )
        .otherwise(
            F.expr("substring(path, length(dir) + 2)")
        )
        .alias("relpath"),
        "sha",
    )
    # sort_array on (relpath, sha) structs is a total order: relpath is
    # unique within (repo, dir) for any sane filesystem-shaped input
    agg = exploded.groupBy("repo", "dir").agg(
        F.count("*").alias("n_files"),
        F.sha2(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("relpath", "sha"))
                    ),
                    lambda s: F.concat_ws(":", s["relpath"], s["sha"]),
                ),
                "\n",
            ),
            256,
        ).alias("subtree_sha"),
    )
    return agg


def duplicate_subtrees(
    df: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    sha_col: str = "sha",
    min_files: int = 2,
    prune_nested: bool = True,
) -> DataFrame:
    """Directories whose entire subtree recurs elsewhere in the corpus:
    (subtree_sha, n_files, n_copies, repos) for every subtree hash held
    by ≥2 distinct (repo, dir) locations and containing ≥ ``min_files``
    files.

    With ``prune_nested`` (default), only MAXIMAL duplicated subtrees
    are reported: if 'a/b' duplicates somewhere, every directory below
    'a/b' duplicates too — noise. A child dir's duplication is implied
    by its parent's when the parent is itself duplicated in the SAME set
    of repos-with-copies, so we drop any duplicated dir whose immediate
    parent dir is also in the duplicated set with the same n_copies.
    (Conservative: a child shared MORE widely than its parent — e.g.
    a vendored lib inside an otherwise-unique tree — survives, which is
    exactly the vendoring signal.) The prune is a self-join of the
    small duplicated-dirs frame on (repo, parent-dir), broadcast-sized
    in practice."""
    trees = subtree_hashes(df, repo_col, path_col, sha_col)
    groups = (
        trees.where(F.col("n_files") >= min_files)
        .groupBy("subtree_sha", "n_files")
        .agg(
            F.count("*").alias("n_copies"),
            F.sort_array(
                F.collect_list(F.concat_ws("::", "repo", "dir"))
            ).alias("locations"),
        )
        .where(F.col("n_copies") >= 2)
    )
    if not prune_nested:
        return groups
    # explode back to per-location rows, drop rows whose parent location
    # is duplicated with the same copy count, re-group
    locs = groups.select(
        "subtree_sha",
        "n_files",
        "n_copies",
        F.explode("locations").alias("loc"),
    ).select(
        "subtree_sha",
        "n_files",
        "n_copies",
        F.split_part(F.col("loc"), F.lit("::"), F.lit(1)).alias("repo"),
        F.split_part(F.col("loc"), F.lit("::"), F.lit(2)).alias("dir"),
    )
    # the repo root ('') has no parent — NULL never equi-joins, so roots
    # always survive the prune
    parent = (
        F.when(F.col("dir") == "", F.lit(None).cast("string"))
        .when(~F.col("dir").contains("/"), F.lit(""))
        .otherwise(
            F.expr(
                "substring(dir, 1, length(dir) "
                "- length(split_part(dir, '/', -1)) - 1)"
            )
        )
    )
    with_parent = locs.withColumn("parent_dir", parent)
    parents = locs.select(
        F.col("repo").alias("p_repo"),
        F.col("dir").alias("p_dir"),
        F.col("n_copies").alias("p_copies"),
    )
    kept = with_parent.join(
        F.broadcast(parents),
        (F.col("repo") == F.col("p_repo"))
        & (F.col("parent_dir") == F.col("p_dir"))
        & (F.col("n_copies") == F.col("p_copies")),
        "left_anti",
    )
    return kept.groupBy("subtree_sha", "n_files", "n_copies").agg(
        F.sort_array(
            F.collect_list(F.concat_ws("::", "repo", "dir"))
        ).alias("locations")
    )


def repo_manifest(
    df: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    lang_col: str = "lang",
    content_col: str = "content",
) -> DataFrame:
    """Per-repo manifest card — the corpus-catalog report a code-table
    ingest publishes: (repo, n_files, n_langs, total_chars, top_ext,
    shared_files, reuse_frac) where ``shared_files`` counts files whose
    content sha also appears in ANOTHER repo (vendored/forked content)
    and ``reuse_frac`` = shared_files / n_files.

    top_ext is the modal filename extension (most files; ties break to
    the lexicographically smallest extension — deterministic), '' when a
    path has no dot-extension.

    Plan shape: content hashes to a 64-char sha immediately — content
    never crosses a shuffle. Three narrow aggregations: (sha →
    n_repos) for the sharing mark, (repo, ext) counts + one row_number
    window for the mode, and the final per-repo rollup. The sha
    re-attach is an equi-join on the 64-char key; a hot sha (the empty
    file, a ubiquitous LICENSE) concentrates only narrow rows."""
    repo, path = F.col(repo_col), F.col(path_col)
    files = df.select(
        repo.alias("repo"),
        path.alias("path"),
        F.col(lang_col).alias("lang"),
        F.sha2(F.col(content_col), 256).alias("sha"),
        F.length(F.col(content_col)).alias("n_chars"),
        F.regexp_extract(path, r"\.([A-Za-z0-9_]+)$", 1).alias("ext"),
    )
    sha_repos = files.groupBy("sha").agg(
        F.countDistinct("repo").alias("n_repos_with_sha")
    )
    marked = files.join(sha_repos, "sha")
    per_repo = marked.groupBy("repo").agg(
        F.count("*").alias("n_files"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.when(F.col("n_repos_with_sha") > 1, 1).otherwise(0)
        ).alias("shared_files"),
    )
    ext_counts = files.groupBy("repo", "ext").agg(F.count("*").alias("_n"))
    w = Window.partitionBy("repo").orderBy(F.desc("_n"), F.asc("ext"))
    top_ext = (
        ext_counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("repo", F.col("ext").alias("top_ext"))
    )
    return per_repo.join(top_ext, "repo").select(
        "repo",
        "n_files",
        "n_langs",
        "total_chars",
        "top_ext",
        "shared_files",
        F.round(F.col("shared_files") / F.col("n_files"), 6).alias(
            "reuse_frac"
        ),
    )


def cap_mega_dirs(
    df: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    max_files_per_dir: int = 100000,
) -> DataFrame:
    """Skew valve for degenerate layouts: drop files whose DIRECT parent
    directory holds more than ``max_files_per_dir`` files (generated
    bundles, data dumps checked into one folder). Subtree hashing
    concentrates each dir's narrow rows on one reducer, so a 10M-file
    flat dir would otherwise own a partition; dirs over the cap are
    noise for clone detection anyway. Drops surface as an observe
    metric (``treedup_dir_cap.rows_dropped``), never silently — same
    contract as the bucket cap of dedup.bucket_pairs. Run BEFORE
    subtree_hashes / duplicate_subtrees when the corpus may contain such
    layouts."""
    parent = F.when(
        ~F.col(path_col).contains("/"), F.lit("")
    ).otherwise(
        F.expr(
            f"substring({path_col}, 1, length({path_col}) "
            f"- length(split_part({path_col}, '/', -1)) - 1)"
        )
    )
    w = Window.partitionBy(repo_col, parent)
    sized = df.withColumn("_dir_n", F.count("*").over(w))
    sized = sized.observe(
        "treedup_dir_cap",
        F.sum(
            F.when(F.col("_dir_n") > max_files_per_dir, 1).otherwise(0)
        ).alias("rows_dropped"),
    )
    return sized.where(F.col("_dir_n") <= max_files_per_dir).drop("_dir_n")


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    repo_col: str = "repo",
    path_col: str = "path",
    sha_col: str = "sha",
) -> DataFrame:
    """Corpus-snapshot delta report — what changed between two versions
    of the code table: (repo, path, status, old_sha, new_sha) with
    status ∈ {'added', 'removed', 'modified', 'unchanged'}. On Iceberg
    this is snapshot time-travel + a join; this relational form works on
    any two frames with the same key shape and is the audit a nightly
    ingest publishes next to its admission report.

    Plan shape: one full outer join on the (repo, path) key with shas as
    the only payload — content never enters; status is a row-local CASE.
    At 10^12 files both sides bucket by (repo, path) hash and the join
    co-partitions."""
    o = old_df.select(
        F.col(repo_col).alias("repo"),
        F.col(path_col).alias("path"),
        F.col(sha_col).alias("old_sha"),
    )
    n = new_df.select(
        F.col(repo_col).alias("repo"),
        F.col(path_col).alias("path"),
        F.col(sha_col).alias("new_sha"),
    )
    j = o.join(n, ["repo", "path"], "full_outer")
    return j.select(
        "repo",
        "path",
        F.when(F.col("old_sha").isNull(), F.lit("added"))
        .when(F.col("new_sha").isNull(), F.lit("removed"))
        .when(F.col("old_sha") != F.col("new_sha"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.coalesce("old_sha", F.lit("")).alias("old_sha"),
        F.coalesce("new_sha", F.lit("")).alias("new_sha"),
    )
