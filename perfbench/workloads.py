"""The three benchmark workloads. Each one builds its inputs and oracle from
the seed (untimed), sets up (timed as ``setup_s``), runs one closed-loop
iteration (timed) and checks that iteration's written output against the
oracle (untimed).

  full_build      NearDupPipeline.run over a sources.codegen corpus
  nightly_ingest  IncrementalIngest.run of a 5% batch into a 95% store
  annotate_fuzzy  operators.annotate.annotate with an abbreviation matcher
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import re
import shutil
from collections import Counter
from typing import Dict, List, Set, Tuple

import pandas as pd

FULL_BUILD_FILES = 3_000
INGEST_FILES = 2_000
INGEST_BATCH_MOD = 20  # every 20th file is in the batch: a 5% batch
ANNOTATE_DOCS = 8_000
DOC_TOKENS = 100
N_KEYWORDS = 3_000
N_ABBREVS = 300
VOCAB = [f"term{i:04d}" for i in range(2_000)]
RECALL_GATE = 0.99
# input files per core: a file is a task, and rows of one planted block share
# a length, so with one file per core the slowest file (and so the seed) set
# the stage time; several small tasks per core balance out
FILES_PER_CORE = 4
INPUT_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# every stage either runner writes, in run order
PIPELINE_STAGES = ("signatures", "candidates", "verified_pairs", "all_pairs", "clusters")
INGEST_STAGES = (
    "new_signatures", "candidates", "verified_pairs", "new_pairs", "clusters",
    "signatures_delta",
)
ALL_STAGES = tuple(dict.fromkeys(PIPELINE_STAGES + INGEST_STAGES))

# the shingle tokenizer of core.tokenize.code_tokenizer, restated here so the
# recall oracle does not call the code under test
_CODE_TOKEN = re.compile(r"[A-Za-z_][A-Za-z_0-9]*|\d+|[^\sA-Za-z_0-9]")


def _pipeline_config(cpus: int):
    from iamsystem_python_spark.plans.config import PipelineConfig

    return PipelineConfig(shuffle_partitions=cpus)


def _shingles(text: str, k: int) -> Set[Tuple[str, ...]]:
    toks = _CODE_TOKEN.findall(text.lower())
    if not toks:
        return set()
    k = min(k, len(toks))
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _doc_id(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(f"{repo}{path}{commit}".encode()).hexdigest()


def dup_pair_oracle(corpus: pd.DataFrame, k: int, threshold: float) -> Set[Tuple[str, str]]:
    """Planted dup pairs a correct build must cluster together: every exact
    pair of a planted cluster, and every near pair whose exact shingle
    Jaccard is at or above the threshold."""
    members: Dict[int, List[Tuple[str, str]]] = {}
    for row in corpus.itertuples(index=False):
        if row.cluster_id >= 0:
            members.setdefault(row.cluster_id, []).append((row.doc_id, row.content))
    pairs = set()
    for docs in members.values():
        docs.sort()
        sh = [None] * len(docs)
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                if docs[i][1] != docs[j][1]:
                    if sh[i] is None:
                        sh[i] = _shingles(docs[i][1], k)
                    if sh[j] is None:
                        sh[j] = _shingles(docs[j][1], k)
                    union = len(sh[i] | sh[j])
                    if not union or len(sh[i] & sh[j]) / union < threshold:
                        continue
                pairs.add((docs[i][0], docs[j][0]))
    return pairs


def pair_recall(pairs: Set[Tuple[str, str]], assignment: Dict[str, str]) -> float:
    if not pairs:
        return 1.0
    hit = 0
    for a, b in pairs:
        ca = assignment.get(a)
        if ca is not None and ca == assignment.get(b):
            hit += 1
    return hit / len(pairs)


def read_assignment(stage_dir: str) -> Dict[str, str]:
    df = pd.read_parquet(stage_dir, columns=["doc_id", "cluster_id"])
    return dict(zip(df["doc_id"], df["cluster_id"]))


def read_manifests(out_dir: str) -> Dict[str, Dict]:
    out = {}
    for path in glob.glob(os.path.join(out_dir, "*", "_MANIFEST.json")):
        with open(path) as f:
            m = json.load(f)
        out[m["stage"]] = m
    return out


def generate_corpus(n_rows: int, seed: int, path: str, files: int) -> pd.DataFrame:
    """Seeded sources.codegen corpus with its doc ids and planted cluster
    ids; written as ``files`` parquet files (without the cluster ids) when
    ``path`` is given."""
    from iamsystem_python_spark.sources.codegen import generate_rows

    corpus = pd.DataFrame(
        generate_rows(n_rows, seed),
        columns=["repo", "path", "commit", "lang", "content", "cluster_id"],
    )
    corpus["doc_id"] = [
        _doc_id(r, p, c) for r, p, c in zip(corpus["repo"], corpus["path"], corpus["commit"])
    ]
    if path:
        write_parquet(corpus[INPUT_COLUMNS], path, files)
    return corpus


def write_parquet(df: pd.DataFrame, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(df) // files)
    for i in range(files):
        part = df.iloc[i * step : (i + 1) * step]
        part.to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)


class Workload:
    name = ""

    def __init__(self, seed: int, cpus: int, work: str):
        self.seed = seed
        self.cpus = cpus
        self.files = FILES_PER_CORE * cpus
        self.work = work
        self.rows = 0  # input rows per iteration, the rows_per_s numerator
        self.sample_texts: List[str] = []  # fixed seeded sample for microcalls

    def generate(self) -> None:
        """Driver-side input generation and oracle: untimed, once per run,
        while the driver JVM launches."""

    def prepare(self, spark) -> None:
        """Input preparation and oracle that need Spark: untimed."""

    def setup(self, spark) -> None:
        """Per-session set-up the workload needs before its first job."""

    def warm_up(self, spark) -> None:
        """Run the workload's Python kernels once on a small slice, so
        worker start-up and imports are paid in set-up, not in the first
        iteration."""
        from iamsystem_python_spark.operators.signatures import add_signatures

        small = add_signatures(self._warm_slice(), self.cfg)
        small.write.format("noop").mode("overwrite").save()

    def _warm_slice(self):
        # one small task per core, so every Python worker starts here
        return self.warm_df.limit(16 * self.cpus).repartition(self.cpus)

    def iterate(self, spark, out_dir: str, tracer) -> None:
        """One timed job, from input to a fully written result."""

    def check(self, out_dir: str) -> Tuple[bool, float, str]:
        """(passed, recall, reason) for one iteration's written output."""

    def _sample(self, texts: List[str], n: int = 64) -> None:
        rng = random.Random(self.seed)
        self.sample_texts = rng.sample(texts, min(n, len(texts)))


class FullBuild(Workload):
    name = "full_build"

    def generate(self) -> None:
        self.cfg = _pipeline_config(self.cpus)
        self.input_path = os.path.join(self.work, "corpus")
        corpus = generate_corpus(FULL_BUILD_FILES, self.seed, self.input_path, self.files)
        self.rows = len(corpus)
        self.oracle_pairs = dup_pair_oracle(
            corpus, self.cfg.shingle_k, self.cfg.jaccard_threshold
        )
        self.oracle_sha = {
            d: hashlib.sha256(c.encode()).hexdigest()
            for d, c in zip(corpus["doc_id"], corpus["content"])
        }
        self._sample(corpus["content"].tolist())

    def setup(self, spark) -> None:
        self.input_df = self.warm_df = spark.read.parquet(self.input_path)

    def iterate(self, spark, out_dir: str, tracer) -> None:
        from iamsystem_python_spark.plans.pipeline import NearDupPipeline

        runner = NearDupPipeline(
            self.cfg, materialize_exact_groups=False, collect_bucket_stats=False
        )
        with tracer.span("plans.NearDupPipeline.run"):
            runner.run(spark, self.input_df, out_dir)

    def check(self, out_dir: str) -> Tuple[bool, float, str]:
        recall = pair_recall(
            self.oracle_pairs, read_assignment(os.path.join(out_dir, "clusters"))
        )
        sig = pd.read_parquet(os.path.join(out_dir, "signatures"), columns=["doc_id", "sha256"])
        got_sha = dict(zip(sig["doc_id"], sig["sha256"]))
        if len(sig) != len(got_sha) or got_sha != self.oracle_sha:
            return False, recall, "signature rows do not carry each input's content sha256"
        if recall < RECALL_GATE:
            return False, recall, f"recall {recall:.4f} below {RECALL_GATE}"
        return True, recall, ""


class NightlyIngest(Workload):
    name = "nightly_ingest"

    def generate(self) -> None:
        self.cfg = _pipeline_config(self.cpus)
        corpus = generate_corpus(INGEST_FILES, self.seed, None, self.files)
        in_batch = (corpus.index % INGEST_BATCH_MOD) == 0
        self.all_path = os.path.join(self.work, "all_docs")
        self.hist_path = os.path.join(self.work, "hist_docs")
        self.batch_path = os.path.join(self.work, "batch_docs")
        write_parquet(corpus[INPUT_COLUMNS], self.all_path, self.files)
        write_parquet(corpus.loc[~in_batch, INPUT_COLUMNS], self.hist_path, self.files)
        write_parquet(corpus.loc[in_batch, INPUT_COLUMNS], self.batch_path, self.files)
        self.rows = int(in_batch.sum())
        self.oracle_pairs = dup_pair_oracle(
            corpus, self.cfg.shingle_k, self.cfg.jaccard_threshold
        )
        self._sample(corpus.loc[in_batch, "content"].tolist())

    def prepare(self, spark) -> None:
        from iamsystem_python_spark.plans.pipeline import NearDupPipeline

        pipeline = NearDupPipeline(
            self.cfg, materialize_exact_groups=False, collect_bucket_stats=False
        )
        # the store: a full build over the 95% history
        self.store_dir = os.path.join(self.work, "store")
        pipeline.run(spark, spark.read.parquet(self.hist_path), self.store_dir)
        # oracle: a from-scratch build over store ∪ batch
        scratch = os.path.join(self.work, "oracle_build")
        pipeline.run(spark, spark.read.parquet(self.all_path), scratch)
        self.oracle_assignment = read_assignment(os.path.join(scratch, "clusters"))
        shutil.rmtree(scratch)

    def setup(self, spark) -> None:
        # store open: both persisted stages the ingest reads
        for stage in ("signatures", "clusters"):
            spark.read.parquet(os.path.join(self.store_dir, stage)).count()
        self.hist_df = spark.read.parquet(self.hist_path)
        self.batch_df = self.warm_df = spark.read.parquet(self.batch_path)

    def iterate(self, spark, out_dir: str, tracer) -> None:
        from iamsystem_python_spark.plans.ingest import IncrementalIngest

        with tracer.span("plans.IncrementalIngest.run"):
            IncrementalIngest(self.cfg).run(
                spark, self.batch_df, self.store_dir, out_dir, hist_docs=self.hist_df
            )

    def check(self, out_dir: str) -> Tuple[bool, float, str]:
        got = read_assignment(os.path.join(out_dir, "clusters"))
        recall = pair_recall(self.oracle_pairs, got)
        if got != self.oracle_assignment:
            diff = len(set(got.items()) ^ set(self.oracle_assignment.items()))
            return False, recall, f"assignment differs from a full rebuild in {diff} rows"
        if recall < RECALL_GATE:
            return False, recall, f"recall {recall:.4f} below {RECALL_GATE}"
        return True, recall, ""


def annotate_inputs(seed: int, n_docs: int):
    """Short docs over a 2k-term vocabulary, a ~3k-bigram dictionary and 300
    abbreviations. 30% of docs carry one dictionary bigram whose first word
    is written as its abbreviation, reachable only through the fuzzy
    Abbreviations algo; 15% carry one bigram with a plural second word."""
    rng = random.Random(seed)
    keywords = sorted(
        {f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}" for _ in range(N_KEYWORDS)}
    )
    abbrevs = [(f"zz{j:03d}", VOCAB[j]) for j in range(N_ABBREVS)]
    short_of = dict((v, s) for s, v in abbrevs)
    abbreviable = [kw for kw in keywords if kw.split()[0] in short_of]
    docs, planted = [], []
    for i in range(n_docs):
        toks = [rng.choice(VOCAB) for _ in range(DOC_TOKENS)]
        roll = rng.random()
        if roll < 0.3:
            kw = rng.choice(abbreviable)
            first, second = kw.split()
            pos = rng.randrange(len(toks) - 1)
            toks[pos : pos + 2] = [short_of[first], second]
            planted.append((i, kw))
        elif roll < 0.45:
            first, second = rng.choice(keywords).split()
            pos = rng.randrange(len(toks) - 1)
            toks[pos : pos + 2] = [first, second + "s"]
        docs.append((i, " ".join(toks)))
    return docs, keywords, abbrevs, planted


def _annotation_key(doc_id, start, end, label, kw_labels, algos) -> Tuple:
    return (
        int(doc_id), int(start), int(end), label,
        tuple(kw_labels), tuple(tuple(a) for a in algos),
    )


def build_matcher(keywords, abbrevs):
    from iamsystem_python_spark.core.matcher import Matcher

    return Matcher.build(keywords=keywords, abbreviations=abbrevs)


class AnnotateFuzzy(Workload):
    name = "annotate_fuzzy"

    def generate(self) -> None:
        docs, self.keywords, self.abbrevs, planted = annotate_inputs(
            self.seed, ANNOTATE_DOCS
        )
        self.rows = len(docs)
        self.input_path = os.path.join(self.work, "docs")
        write_parquet(
            pd.DataFrame(docs, columns=["doc_id", "content"]), self.input_path, self.files
        )
        matcher = build_matcher(self.keywords, self.abbrevs)
        self.oracle = Counter(
            _annotation_key(
                doc_id, a.start, a.end, a.tokens_label,
                [lab for lab, _ in a._keywords], a.algos,
            )
            for doc_id, text in docs
            for a in matcher.annot_text(text)
        )
        self.planted = planted
        self._sample([t for _, t in docs])

    def setup(self, spark) -> None:
        # dictionary compile; the matcher of the last set-up is the one used
        self.matcher = build_matcher(self.keywords, self.abbrevs)
        self.input_df = self.warm_df = spark.read.parquet(self.input_path)

    def warm_up(self, spark) -> None:
        from iamsystem_python_spark.operators.annotate import annotate

        small = annotate(self._warm_slice(), self.matcher, "content", ["doc_id"])
        small.write.format("noop").mode("overwrite").save()

    def iterate(self, spark, out_dir: str, tracer) -> None:
        from iamsystem_python_spark.operators.annotate import annotate

        with tracer.span("operators.annotate.annotate"):
            annotate(
                self.input_df, self.matcher, text_col="content", id_cols=["doc_id"]
            ).write.mode("overwrite").parquet(out_dir)

    def check(self, out_dir: str) -> Tuple[bool, float, str]:
        got = pd.read_parquet(
            out_dir, columns=["doc_id", "start", "end", "label", "kw_labels", "algos"]
        )
        counts = Counter(
            _annotation_key(*row) for row in got.itertuples(index=False, name=None)
        )
        found = {(int(d), kw) for d, kws in zip(got["doc_id"], got["kw_labels"]) for kw in kws}
        recall = sum((d, kw) in found for d, kw in self.planted) / max(len(self.planted), 1)
        if counts != self.oracle:
            diff = sum(((counts - self.oracle) + (self.oracle - counts)).values())
            return False, recall, f"annotation multiset differs from the driver matcher by {diff}"
        if recall < RECALL_GATE:
            return False, recall, f"recall {recall:.4f} below {RECALL_GATE}"
        return True, recall, ""


WORKLOADS = {w.name: w for w in (FullBuild, NightlyIngest, AnnotateFuzzy)}
