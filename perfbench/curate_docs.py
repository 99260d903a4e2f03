"""curate_docs: the curation layers' text leg over a seeded documents table.

The only workload whose work sits in ``functions.dedup``, ``components``,
``decontam``, ``packing`` and ``cleaning``; none of the crawl layers run.
One operation takes the seed's documents through PII redaction, paragraph
dedup, MinHash/LSH near-dup candidates, the n-gram Jaccard verify, the
cluster-loser drop, a hash split, decontamination of the train split
against the held-out one, and sequence packing, in the order
``jobs/curate_job.py`` runs them.  It calls each layer itself rather than
running the whole job: a job costs about 20 s even when warm, almost all
of it the job's fixed per-action cost, so a run would time one job at most
(README.md, "Why curate_docs calls the layers").  Set-up writes the seed's
documents to the run's own input directory; the warm-up runs one
operation over another seed's documents.
"""

from __future__ import annotations

import contextlib
import os

import pandas as pd
from pyspark.sql import functions as F

from common import Stopwatch
from inputs import documents
from reference import curation_errors

N_DOCS = 200
WARM_UP_SEED_OFFSET = 1_000_003  # the warm-up's inputs: another seed
JACCARD = 0.8
SPLIT = {"train": 0.9, "val": 0.05, "test": 0.05}
DECONTAM_N = 13
BLOCK_SIZE = 2048


class CurateDocs:
    WARM_OPS = 2  # untimed operations after the warm-up
    TIMED_OPS = 3  # at least; the median is over them

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work

    def setup(self, spark) -> None:
        rows, self.copies = documents(self.seed, N_DOCS)
        self.input_dir = os.path.join(self.work, f"input-{self.seed}")
        os.makedirs(self.input_dir, exist_ok=True)
        pd.DataFrame(rows).to_parquet(
            os.path.join(self.input_dir, "documents.parquet"), index=False)
        self.spark = spark

    def build_reference(self) -> None:
        pass  # the generator's own record of its near-dup copies is it

    def warm_up(self) -> list[str]:
        """One untimed operation over another seed's documents table of the
        same size, so that the timed operations run the same plans on a
        JIT-compiled JVM with live UDF workers, and nothing the warm-up
        caches matches their inputs."""
        warm = CurateDocs(self.seed + WARM_UP_SEED_OFFSET, self.work)
        warm.setup(self.spark)
        return warm.op()["errors"]

    def op(self, tracer=None) -> dict:
        from kit_spark.functions import (cleaning, components, decontam,
                                         dedup, packing, sampling)

        traced = (_traced_curate(tracer) if tracer is not None
                  else contextlib.nullcontext())
        with traced, Stopwatch() as sw:
            docs = self.spark.read.parquet(self.input_dir)
            redacted = cleaning.redact_pii(docs)
            # consumed by the signatures, the Jaccard verify and the drop
            corpus = (dedup.paragraph_dedup(redacted, text_col="text_redacted")
                      .select("doc_id", F.col("text_dedup").alias("text"))
                      .localCheckpoint())
            sig = dedup.minhash_signatures(corpus, k=8, n=3)
            pairs = dedup.lsh_candidate_pairs(sig, k=8, rows_per_band=2)
            verified = dedup.ngram_jaccard_pairs(corpus, pairs, n=3)
            # consumed by the clustering and by the check
            dup_pairs = (verified.where(F.col("jaccard") >= JACCARD)
                         .select("a", "b").localCheckpoint())
            losers = components.dedup_cluster_losers(
                dup_pairs).localCheckpoint()
            kept = corpus.join(losers, "doc_id", "left_anti")
            split = sampling.hash_split(kept, SPLIT).localCheckpoint()
            train = split.where(F.col("split") == "train").drop("split")
            heldout = split.where(F.col("split") != "train").drop("split")
            final = decontam.decontaminate(train, heldout, n=DECONTAM_N)
            blocks = packing.pack_sequences(final, BLOCK_SIZE).collect()
        texts = [r["text"] for r in corpus.collect()]
        errors = curation_errors(
            n_input=N_DOCS, texts=texts,
            dup_pairs=[(r["a"], r["b"]) for r in dup_pairs.collect()],
            losers={r["doc_id"] for r in losers.collect()},
            copies=self.copies,
            splits={r["split"]: r["n"] for r in
                    split.groupBy("split").agg(F.count("*").alias("n"))
                    .collect()},
            blocks=[r.asDict() for r in blocks], block_size=BLOCK_SIZE)
        return {"op_s": sw.seconds, "cpu_s": sw.cpu_seconds,
                "attempted": N_DOCS, "failed": N_DOCS if errors else 0,
                "errors": errors,
                "store_files": 0, "store_bytes": 0, "chain_len": 0}


def _traced_curate(tracer):
    """Wrap the curation layers, which ``op`` resolves at call time."""
    from kit_spark.functions import (cleaning, components, decontam, dedup,
                                     packing)
    from spans import patched

    def kept(out):
        return {"kept": out.where(F.col("jaccard") >= JACCARD).count()}

    return patched((
        (dedup, "minhash_signatures", tracer.layer("dedup.minhash")),
        (dedup, "lsh_candidate_pairs", tracer.layer("dedup.lsh")),
        (dedup, "ngram_jaccard_pairs",
         tracer.layer("dedup.jaccard", kept)),
        (dedup, "paragraph_dedup", tracer.layer("dedup.paragraph")),
        (components, "dedup_cluster_losers", tracer.layer("components")),
        (decontam, "decontaminate", tracer.layer("decontam")),
        (packing, "pack_sequences", tracer.layer("packing")),
        (cleaning, "redact_pii", tracer.layer("cleaning"))))
