"""The three workloads and the jobs they time.

Every job drives the package from outside, through ``read_docs``,
``extract_spans``, ``run_extract_with_checkpoint`` and
``read_committed_spans``, and every job's output is checked against
the in-process oracle.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from stirling_pdf_spark.operators.extract_pipeline import extract_spans
from stirling_pdf_spark.runtime.checkpoint import (
    read_committed_spans,
    run_extract_with_checkpoint,
)
from stirling_pdf_spark.sources.tables import read_docs

from .corpus import compare, digest_col, oracle, read_raw, write_shard

SHARDS = 3
TEMPLATE_RUN = "template"


@dataclass(frozen=True)
class Workload:
    name: str
    docs_per_shard: int
    mega_pages: tuple[int, int]
    salted: bool               # whether mega-docs must take the salted path
    pending_share: float = 0.0  # checkpoint_resume: share left to extract


WORKLOADS = {w.name: w for w in (
    # archetype mix, mega-docs of 300-400 pages stay under the salt
    # threshold: decode, parse, clustering, column vote and encode
    Workload("mixed_corpus", 200, (300, 400), salted=False),
    # mega-docs at the 1000-1500-page default are salted and carry most
    # of the spans: route, bucket shuffle, per-bucket extract, reassembly
    Workload("mega_skew", 150, (1000, 1500), salted=True),
    # resume over a root that already holds 80% of the corpus: anti-join,
    # extraction of the rest, Parquet span write, metrics/lineage commit
    Workload("checkpoint_resume", 150, (300, 400), salted=False,
             pending_share=0.2),
)}


def files_under(root: str) -> dict[str, int]:
    """Relative path -> size of every file under ``root``."""
    return {os.path.relpath(os.path.join(d, f), root): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs}


class Bench:
    """Corpus, oracle and jobs of one workload at one seed, under
    ``work`` (a directory the benchmark owns)."""

    def __init__(self, spark: SparkSession, workload: Workload, seed: int,
                 work: str):
        self.spark = spark
        self.wl = workload
        self.seed = seed
        self.corpus_dir = os.path.join(work, "corpus")
        self.template = os.path.join(work, "template")
        self.out = os.path.join(work, "out")
        self.expected: dict[str, str] = {}   # doc_id -> oracle digest
        self.raw_sizes: list[int] = []       # raw spans per document
        self.committed: set[str] = set()     # docs in the template root

    @property
    def n_docs(self) -> int:
        return len(self.expected)

    @property
    def n_pending(self) -> int:
        return self.n_docs - len(self.committed)

    def shard_path(self, k: int) -> str:
        return os.path.join(self.corpus_dir, f"shard-{k}")

    def docs(self, path: str | None = None):
        return read_docs(self.spark, path or os.path.join(self.corpus_dir, "shard-*"))

    # --- set-up -----------------------------------------------------------

    def setup_shard(self, k: int) -> None:
        """Synthesize shard ``k`` and compute its oracle digests
        (checkpoint_resume: and pick the documents committed early)."""
        path = self.shard_path(k)
        write_shard(self.spark, path, k, self.wl.docs_per_shard,
                    self.seed * 10 + k, self.wl.mega_pages)
        digests, sizes = oracle(read_raw(path))
        self.expected.update(digests)
        self.raw_sizes.extend(sizes)
        if self.wl.pending_share:
            ids = sorted(digests)
            self.committed.update(random.Random(f"{self.seed}:{k}").sample(
                ids, round(len(ids) * (1 - self.wl.pending_share))))

    def commit_template(self) -> set[str]:
        """checkpoint_resume: the earlier run that committed most of the
        corpus, into the root every timed job is restored from. Returns
        the committed documents whose output is wrong."""
        run_extract_with_checkpoint(
            self.spark, self.docs().filter(F.col("doc_id").isin(sorted(self.committed))),
            self.template, run_id=TEMPLATE_RUN)
        return compare({d: self.expected[d] for d in self.committed},
                       self._committed_digests(self.template))

    def _committed_digests(self, root: str) -> list[tuple[str, str]]:
        return [(r[0], r[1]) for r in read_committed_spans(self.spark, root)
                .select("doc_id", digest_col().alias("d")).collect()]

    # --- jobs ---------------------------------------------------------------

    def extract_job(self, path: str | None = None) -> tuple[float, list[tuple[str, str]]]:
        """Extract into a ``noop`` sink; the per-document digests ride
        along as an observed metric. Returns (wall s, digests)."""
        obs = Observation()
        t0 = time.perf_counter()
        out = extract_spans(self.docs(path)).select("doc_id", digest_col().alias("d"))
        out.observe(obs, F.collect_list(F.struct("doc_id", "d")).alias("rows")) \
            .write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        return wall, [(r["doc_id"], r["d"]) for r in obs.get["rows"]]

    def restore(self) -> None:
        """Reset the output root to the committed template."""
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.template, self.out)

    def checkpoint_job(self, run_id: str) -> tuple[float, int]:
        """Resume over the restored root. Returns (wall s, docs done)."""
        t0 = time.perf_counter()
        summary = run_extract_with_checkpoint(self.spark, self.docs(),
                                              self.out, run_id=run_id)
        return time.perf_counter() - t0, summary["docs_done"]

    def check_checkpoint(self, run_id: str) -> set[str]:
        """Documents whose committed output is wrong: a digest differs
        from the oracle, or lineage does not show the template run for
        an earlier commit and ``run_id`` for the rest, or the template's
        span files changed."""
        bad = compare(self.expected, self._committed_digests(self.out))
        lineage = (self.spark.read.parquet(os.path.join(self.out, "lineage"))
                   .groupBy("doc_id").agg(F.collect_set("run_id").alias("runs"))
                   .collect())
        for r in lineage:
            if r["runs"] != [TEMPLATE_RUN if r["doc_id"] in self.committed else run_id]:
                bad.add(r["doc_id"])
        spans = {k: v for k, v in files_under(self.template).items()
                 if k.startswith("spans" + os.sep)}
        if {k: v for k, v in files_under(self.out).items() if k in spans} != spans:
            bad.update(self.committed)
        return bad
