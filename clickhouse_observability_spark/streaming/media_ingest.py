"""EXT incremental MEDIA ingestion with FULL-HISTORY online near-dup
admission — the media arm of streaming/corpus_ingest.py.

Text corpora dedup on an exact 16-byte fingerprint; images need a
PERCEPTUAL identity (the same picture arrives as PNG today and JPEG
tomorrow). Per micro-batch, images are admitted through an at-rest
pHash index queried with the pigeonhole trick: the index stores each
admitted image's 64-bit pHash once per hamming chunk (max_hamming+1
rows), an incoming image probes on its own chunk keys, and any
candidate within `max_hamming` bits marks it a duplicate — a bucket
join against the index, never a scan of all admitted hashes. Audio /
video payloads are admitted through an exact sha-256 index (their
near-dup operators exist batch-side; wiring them here would follow
the same chunk-index shape).

Write order per batch (the corpus_ingest delivery contract): index
entries FIRST, then payloads — a crash between the writes can lose
that batch's media but can never admit a near-duplicate; a retried
batch re-probes the already-updated index and becomes a no-op.

Scale: the index is (max_hamming+1) longs per admitted image, the
probe is an equi-join on (chunk, key) with the popcount filter after
— the same shape as the batch-side hamming_pairs, against an at-rest
table bucketable on the chunk key.
"""

from __future__ import annotations

import base64
import os
from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the chunk-key derivation lives in operators/dedup.py: the at-rest
# index durably stores those keys, so batch pairing and this probe
# MUST share one implementation
from clickhouse_observability_spark.operators.dedup import (
    pigeonhole_chunk_key as _chunk_key,
)
from clickhouse_observability_spark.streaming.batcher import FileFedStream

MEDIA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_b64", T.StringType(), True),
    ]
)


class MediaIngest(FileFedStream):
    """File-fed streaming media ingestion with at-rest perceptual
    (images) / exact (other kinds) dedup indexes."""

    schema = MEDIA_WIRE_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        inbox_dir: str,
        checkpoint_dir: str,
        max_hamming: int = 6,
        fake_decode: bool = False,
        max_files_per_trigger: int = 8,
        trigger_ms: int = 100,
    ):
        super().__init__(
            spark, inbox_dir, checkpoint_dir, max_files_per_trigger, trigger_ms
        )
        self.media_dir = os.path.join(store_dir, "media")
        self.phash_index_dir = os.path.join(store_dir, "_index", "phash_chunks")
        self.sha_index_dir = os.path.join(store_dir, "_index", "payload_sha")
        self.max_hamming = max_hamming
        self.n_chunks = max_hamming + 1
        self.fake_decode = fake_decode

    # -- producer side --------------------------------------------------
    def submit_many(self, media: Iterable[Mapping]) -> int:
        """Each mapping: media_id, kind, payload (bytes) — payloads go
        base64 over the JSONL wire (streaming JSON has no binary)."""
        rows = []
        for m in media:
            d = dict(m)
            payload = d.pop("payload", b"") or b""
            d["payload_b64"] = base64.b64encode(bytes(payload)).decode()
            rows.append(d)
        return super().submit_many(rows)

    # -- admission ------------------------------------------------------
    def _read_index(self, path: str) -> DataFrame | None:
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from clickhouse_observability_spark.operators.multimodal import (
            image_phash,
        )

        decoded = batch_df.withColumn(
            "payload", F.unbase64("payload_b64")
        ).select("media_id", "kind", "payload")

        # ---- images: perceptual admission
        imgs = decoded.filter(F.col("kind") == "image")
        hashes = image_phash(imgs, fake_decode=self.fake_decode)
        # within-batch near-dup keep-first: drop any image pairing
        # with a smaller-id batch-mate (greedy, not transitive-
        # closure: in an A~B~C chain with A!~C, C drops because its
        # link B has a smaller id — deterministic slight over-drop,
        # the cheap-and-safe side for training data)
        from clickhouse_observability_spark.operators.dedup import hamming_pairs

        batch_dups = hamming_pairs(
            hashes, "media_id", "phash", self.max_hamming,
            out_a="keep", out_b="drop",
        ).select(F.col("drop").alias("media_id")).distinct()
        survivors = hashes.join(batch_dups, "media_id", "left_anti")
        # probe the at-rest chunk index
        idx = self._read_index(self.phash_index_dir)
        if idx is not None:
            probes = survivors.select(
                "media_id",
                "phash",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("chunk"),
                                _chunk_key("phash", c, self.n_chunks).alias(
                                    "key"
                                ),
                            )
                            for c in range(self.n_chunks)
                        ]
                    )
                ).alias("cc"),
            ).select(
                "media_id", "phash",
                F.col("cc.chunk").alias("chunk"), F.col("cc.key").alias("key"),
            )
            ham = F.bit_count(
                F.col("phash").bitwiseXOR(F.col("idx_phash"))
            )
            dup_ids = (
                probes.join(
                    idx.withColumnRenamed("phash", "idx_phash"),
                    ["chunk", "key"],
                )
                .filter(ham <= self.max_hamming)
                .select("media_id")
                .distinct()
            )
            survivors = survivors.join(dup_ids, "media_id", "left_anti")
        admitted_imgs = survivors.localCheckpoint(eager=True)  # cut lineage
        chunk_rows = admitted_imgs.select(
            "phash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk"),
                            _chunk_key("phash", c, self.n_chunks).alias("key"),
                        )
                        for c in range(self.n_chunks)
                    ]
                )
            ).alias("cc"),
        ).select(F.col("cc.chunk").alias("chunk"), F.col("cc.key").alias("key"), "phash")

        # ---- non-images: exact payload identity
        others = decoded.filter(F.col("kind") != "image").withColumn(
            "payload_sha", F.sha2(F.col("payload"), 256)
        )
        first = (
            others.groupBy("payload_sha")
            .agg(F.min(F.struct("media_id", "kind", "payload")).alias("r"))
            .select("payload_sha", "r.media_id", "r.kind", "r.payload")
        )
        sha_idx = self._read_index(self.sha_index_dir)
        if sha_idx is not None:
            first = first.join(sha_idx, "payload_sha", "left_anti")
        admitted_others = first.localCheckpoint(eager=True)

        # ---- index first, payloads second (see delivery note)
        if admitted_imgs.take(1):
            chunk_rows.write.mode("append").parquet(self.phash_index_dir)
        if admitted_others.take(1):
            admitted_others.select("payload_sha").write.mode("append").parquet(
                self.sha_index_dir
            )
        img_payloads = decoded.join(
            admitted_imgs.select("media_id"), "media_id", "left_semi"
        )
        other_payloads = decoded.join(
            admitted_others.select("media_id"), "media_id", "left_semi"
        )
        out = img_payloads.unionByName(other_payloads)
        if out.take(1):
            out.write.mode("append").parquet(self.media_dir)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.media_dir)
