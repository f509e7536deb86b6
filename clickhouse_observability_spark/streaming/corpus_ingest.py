"""EXT incremental corpus ingestion with FULL-HISTORY online dedup.

`dedup_within_watermark` (streaming/windows.py) suppresses duplicates
inside the watermark horizon — bounded state, but a doc resubmitted a
week later sails through. This module is the other half a training-
corpus pipeline needs: every micro-batch is exact-deduped against the
AT-REST fingerprint index of everything ever admitted, so the corpus
stays duplicate-free across the stream's whole lifetime without any
unbounded in-memory state. The index is a parquet table of md5
fingerprints — the same normalize+md5 identity the batch dedup
operators use (operators/dedup.py), so batch and streaming admission
agree on what "duplicate" means.

Per micro-batch (foreachBatch):
  1. fingerprint the incoming docs (fp_md5 of normalized text);
  2. collapse duplicates WITHIN the batch (min doc_id per fp — same
     keep-first rule as batch dedup);
  3. anti-join against the at-rest fingerprint index;
  4. append surviving fingerprints to the index, THEN the surviving
     docs to the corpus.

Delivery note (mirrors the batcher's ST3 at-least-once divergence):
the two appends are not one transaction. Fingerprints land first, so
a crash between the writes can LOSE that batch's docs but can never
ADMIT a duplicate — for training corpora the right failure side
(a missing doc costs a sliver of data; a duplicated doc biases the
model and defeats the dedup contract). A retried batch re-anti-joins
against the already-updated index and becomes a no-op.

Scale: the anti-join is a join of the micro-batch (small) against the
fingerprint index (corpus-sized but 16 bytes/doc — ~1.6 TB per 10^11
docs, a normal shuffle-join partner, and bucketable on fp_md5 to make
admission a map-side join).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_observability_spark.operators.text_analysis import fingerprint_md5
from clickhouse_observability_spark.streaming.batcher import FileFedStream

DOC_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


class CorpusIngest(FileFedStream):
    """File-fed streaming corpus ingestion with at-rest-index dedup."""

    schema = DOC_WIRE_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        inbox_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        trigger_ms: int = 100,
    ):
        super().__init__(
            spark, inbox_dir, checkpoint_dir, max_files_per_trigger, trigger_ms
        )
        self.docs_dir = os.path.join(corpus_dir, "docs")
        self.index_dir = os.path.join(corpus_dir, "_index", "fingerprints")

    # -- legacy layout migration ----------------------------------------
    def _migrate_legacy_layout(self) -> None:
        """Docs written before corpus versioning landed sit as root-level
        part files in docs_dir; one partitioned append on top of those
        makes the whole store unreadable (Spark: 'conflicting directory
        structures') and versions()/read_as_of() would silently omit
        every pre-upgrade doc. On any touch of the store, adopt such
        files into an `ingest_batch=-1` partition — a pure rename, no
        data read: parquet part files are self-contained and the
        partition value comes from the directory name. The SENTINEL
        -1 sits below any real micro-batch id (Structured Streaming
        numbers batches from 0), so a fresh checkpoint's batch 0
        cannot land in the legacy partition — read_as_of(-1) stays
        the immutable pre-upgrade snapshot and diff(-1, n) is the
        complete post-upgrade delta."""
        if not os.path.isdir(self.docs_dir):
            return
        legacy = [
            n
            for n in os.listdir(self.docs_dir)
            if not n.startswith((".", "_")) and not n.startswith("ingest_batch=")
        ]
        if not legacy:
            return
        v0 = os.path.join(self.docs_dir, "ingest_batch=-1")
        os.makedirs(v0, exist_ok=True)
        for n in legacy:
            os.rename(os.path.join(self.docs_dir, n), os.path.join(v0, n))

    # -- admission ------------------------------------------------------
    def _known_fps(self) -> DataFrame | None:
        if not os.path.exists(self.index_dir):
            return None
        return self.spark.read.parquet(self.index_dir)

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self._migrate_legacy_layout()
        fp = batch_df.withColumn("fp_md5", fingerprint_md5("text"))
        # within-batch keep-first: one winner per fingerprint
        first = fp.groupBy("fp_md5").agg(
            F.min(F.struct("doc_id", "text", "source")).alias("r")
        ).select("fp_md5", "r.doc_id", "r.text", "r.source")
        known = self._known_fps()
        if known is not None:
            first = first.join(known, "fp_md5", "left_anti")
        # localCheckpoint (NOT persist) before the two appends: the
        # admitted rows must be materialized with the index scan CUT
        # OUT of the lineage. A persisted frame is invalidated by
        # Spark's recacheByPath the moment the fingerprint append
        # touches the index path — the docs write then RE-RUNS the
        # anti-join against the refreshed index (now containing this
        # batch's own fingerprints) and silently admits nothing. The
        # checkpoint also means the dedup plan runs once per batch,
        # not once per write.
        first = first.localCheckpoint(eager=True)
        # fingerprints first (see delivery note): duplicates can
        # never be admitted, even on crash-retry
        first.select("fp_md5").write.mode("append").parquet(self.index_dir)
        # docs land under an ingest_batch=<id> partition: every commit
        # is a VERSION, so a training run can pin `read_as_of(n)` and
        # reproduce its exact corpus later (partition pruning makes
        # the as-of read skip newer directories at the listing, not
        # by scanning). Zero-admission retries create no partition.
        (
            first.select("doc_id", "text", "source")
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("append")
            .partitionBy("ingest_batch")
            .parquet(self.docs_dir)
        )

    def read(self) -> DataFrame:
        """The full current corpus (version column dropped — the
        pre-versioning schema, so downstream consumers are
        unchanged)."""
        self._migrate_legacy_layout()
        return self.spark.read.parquet(self.docs_dir).drop("ingest_batch")

    # -- dataset versioning --------------------------------------------
    def versions(self) -> list[int]:
        """Committed corpus versions (ascending ingest batch ids) —
        an O(#batches) directory listing, no data read."""
        self._migrate_legacy_layout()
        if not os.path.exists(self.docs_dir):
            return []
        out = []
        for name in os.listdir(self.docs_dir):
            if name.startswith("ingest_batch="):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def read_as_of(self, batch_id: int) -> DataFrame:
        """The corpus exactly as it stood after `batch_id` committed —
        the reproducible-training-run pin. Partition-pruned: newer
        batches are skipped at file listing."""
        self._migrate_legacy_layout()
        df = self.spark.read.parquet(self.docs_dir)
        return df.filter(F.col("ingest_batch") <= int(batch_id)).drop(
            "ingest_batch"
        )

    def diff(self, from_batch: int, to_batch: int) -> DataFrame:
        """Docs admitted in (from_batch, to_batch] — what a resumed
        training job must ingest to catch up from its pinned version."""
        self._migrate_legacy_layout()
        df = self.spark.read.parquet(self.docs_dir)
        return df.filter(
            (F.col("ingest_batch") > int(from_batch))
            & (F.col("ingest_batch") <= int(to_batch))
        ).drop("ingest_batch")
