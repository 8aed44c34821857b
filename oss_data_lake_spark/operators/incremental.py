"""Incremental corpus ingestion: the production loop of a training-data lake.

Ties the snapshot layer to the cleaning/dedup operators into the shape a
real 100-TB document pipeline runs on every arrival batch:

1. **Quality gate** the new batch (narrow codegen'd scan, no shuffle —
   ``operators/pipeline`` semantics).
2. **Dedup against the EXISTING corpus without re-reading it**: the corpus
   keeps a persisted LSH band index (``(doc_id, band, bucket)`` —
   ``dedup.band_table``) committed in lockstep with the data. New docs are
   signed and banded (cost ∝ batch), candidates come from a band equi-join
   of new bands × (stored index ∪ new bands), and only the CANDIDATE
   corpus documents are read back for exact shingle verification (semi-join
   pushdown — O(candidates) corpus text reads, never a corpus rescan).
3. **Deterministic survivorship**: a new doc duplicating any corpus doc is
   dropped; within the batch the smallest doc_id of each dup pair wins
   (same representative rule as ``dedup.exact_dedup``).
4. **Atomic append**: survivors and their index rows commit as new
   snapshots of their respective tables; a crash between the two commits
   leaves the data snapshot live and the index one batch behind — the next
   ingest's ``sync check`` detects and rebuilds the missing index rows
   (never lost data, never phantom docs).

The reference's ingestion loop (reference dags/yfinance_to_minio.py:99 —
manually triggered batch appends into Iceberg) is the single-table version
of this; the band index is what makes the dedup step incremental.

Deliberately UNCAPPED shingles (unlike e11/e12's document-frequency cap):
a df cap over an incrementally-growing corpus needs a hot-shingle
vocabulary FROZEN per index snapshot (per-batch df statistics drift, and
signatures already committed to the index can't be re-signed under a new
cap without invalidating it). Batch-vs-index signature consistency is the
invariant the tests pin; a snapshot-versioned cap vocabulary is the
documented extension point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oss_data_lake_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    band_table,
    doc_shingle_sets,
    minhash_signatures,
)
from oss_data_lake_spark.operators.pipeline import _with_quality
from oss_data_lake_spark.session import local_frame
from oss_data_lake_spark.sources.snapshots import SnapshotTable


class IncrementalCorpus:
    """A snapshot-versioned document corpus with an incremental LSH index."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.docs = SnapshotTable(spark, path)
        self.index = SnapshotTable(spark, f"{path.rstrip('/')}__bandindex")

    # ------------------------------------------------------------- ingest

    def ingest(
        self, new_docs: DataFrame, threshold: float = JACCARD_THRESHOLD
    ) -> dict:
        """Quality-gate, dedup (cross-corpus + intra-batch), append.

        Returns the batch accounting: arrived / quality_failed / dup_cross /
        dup_intra / appended counts plus the new snapshot version."""
        self._sync_index()

        n_arrived = new_docs.count()
        quality = _with_quality(new_docs).filter(F.col("quality_ok"))
        # lazy checkpoints on the frames every later step re-reads (r14):
        # without them the batch accounting's count() actions and the two
        # commits re-ran the quality gate and the whole LSH candidate
        # pipeline up to three times each per ingest — at corpus scale
        # that is three extra passes over the batch per micro-batch.
        # The first action (n_passing) materializes `passing`; the
        # survivor count materializes the dup id sets. Same numbers,
        # same commits, each pipeline computed once.
        passing = new_docs.join(
            quality.select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=False)
        n_passing = passing.count()

        new_bands = band_table(minhash_signatures(passing))
        cross_dups = self._cross_duplicate_ids(
            passing, new_bands, threshold
        ).localCheckpoint(eager=False)
        intra_dups = self._intra_duplicate_ids(
            passing, new_bands, threshold
        ).localCheckpoint(eager=False)
        drop_ids = cross_dups.union(intra_dups).distinct()

        survivors = passing.join(drop_ids, "doc_id", "left_anti")
        n_survivors = survivors.count()

        if n_survivors:
            mode = "append" if self.docs.current_version() else "overwrite"
            version = self.docs.commit(survivors, mode=mode)
            keep_bands = new_bands.join(drop_ids, "doc_id", "left_anti")
            self.index.commit(keep_bands, mode=mode)
        else:
            version = self.docs.current_version() or 0

        n_cross = cross_dups.count()
        # the batch shingle cache's plan hangs off this call's `passing`
        # checkpoint — unreusable after this point, so release it (r14;
        # cache=False per r14 ADVICE: same analyzed plan, no transient
        # re-registration right before the unpersist)
        doc_shingle_sets(passing, cache=False).unpersist()
        return {
            "n_arrived": n_arrived,
            "n_quality_failed": n_arrived - n_passing,
            "n_dup_cross": n_cross,
            "n_dup_intra": n_passing - n_survivors - n_cross,
            "n_appended": n_survivors,
            "version": version,
        }

    # ------------------------------------------------------------- reads

    def read(self, version: int | None = None) -> DataFrame:
        return self.docs.read(version)

    # ---------------------------------------------------------- internals

    def _cross_duplicate_ids(
        self, passing: DataFrame, new_bands: DataFrame, threshold: float
    ) -> DataFrame:
        """New doc_ids that near-duplicate an EXISTING corpus doc. Corpus
        cost: one index band-join + shingling of candidate docs only."""
        if not self.index.current_version():
            return local_frame(self.spark, [], "doc_id long")
        idx = self.index.read()
        cands = (
            new_bands.alias("n")
            .join(
                idx.alias("o"),
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.bucket") == F.col("o.bucket")),
            )
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("old_id"),
            )
            .distinct()
        )
        # read back ONLY candidate corpus docs for exact verification
        corpus_cand = self.docs.read().join(
            cands.select(F.col("old_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        # cache=False: the corpus-candidate shingles are read exactly once
        # (the verify join below) and the plan is unique per batch — a
        # cache entry here leaked one table per ingest (r14)
        old_sh = doc_shingle_sets(corpus_cand, cache=False).select(
            F.col("doc_id").alias("old_id"), F.col("shset").alias("so")
        )
        new_sh = doc_shingle_sets(passing).select(
            F.col("doc_id").alias("new_id"), F.col("shset").alias("sn")
        )
        n_inter = F.size(F.array_intersect("sn", "so"))
        verified = (
            cands.join(new_sh, "new_id")
            .join(old_sh, "old_id")
            .withColumn("n_inter", n_inter)
            .withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.size("sn") + F.size("so") - F.col("n_inter")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return verified.select(F.col("new_id").alias("doc_id")).distinct()

    def _intra_duplicate_ids(
        self, passing: DataFrame, new_bands: DataFrame, threshold: float
    ) -> DataFrame:
        """Within-batch dup pairs; the LARGER doc_id of each pair drops
        (deterministic keep-smallest representative)."""
        a = new_bands.alias("a")
        b = new_bands.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        sh = doc_shingle_sets(passing)
        sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa"))
        sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb"))
        n_inter = F.size(F.array_intersect("sa", "sb"))
        verified = (
            cands.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("n_inter", n_inter)
            .withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.size("sa") + F.size("sb") - F.col("n_inter")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return verified.select(F.col("doc_b").alias("doc_id")).distinct()

    def _sync_index(self) -> None:
        """Crash repair: if the docs table advanced past the index (a crash
        between the two commits), rebuild index rows for the missing docs.
        Compares document id sets — never trusts version numbers across two
        independent snapshot logs."""
        if not self.docs.current_version():
            return
        docs = self.docs.read()
        if not self.index.current_version():
            self.index.commit(band_table(minhash_signatures(docs)))
            return
        indexed = self.index.read().select("doc_id").distinct()
        missing = docs.join(indexed, "doc_id", "left_anti")
        if missing.limit(1).count():
            self.index.commit(
                band_table(minhash_signatures(missing)), mode="append"
            )
