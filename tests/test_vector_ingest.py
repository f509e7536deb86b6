"""Incremental embedding ingestion with online ANN-index maintenance
(streaming/vector_ingest.py): audit gate, full-history id dedup,
frozen-artifact assignment/coding, crash-retry idempotency, rebuild."""

from __future__ import annotations

import random

import pytest

from clickhouse_observability_spark.operators import similarity as S
from clickhouse_observability_spark.streaming.vector_ingest import VectorIngest

DIM = 8


def _vec(rnd):
    return [round(rnd.uniform(-1, 1), 6) for _ in range(DIM)]


@pytest.fixture()
def store(spark, tmp_path):
    rnd = random.Random(7)
    seed = [(i, _vec(rnd)) for i in range(40)]
    emb = spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    vi = VectorIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dim=DIM,
        n_clusters=4,
    )
    vi.bootstrap(emb)
    return vi, seed, rnd


def test_bootstrap_artifacts_consistent(spark, store):
    vi, seed, _ = store
    assert vi.read().count() == 40
    assert vi.assignments().count() == 40
    assert vi.codes().count() == 40
    assert vi.centroids().count() == 4
    assert vi.staleness()["stale_frac"] == 0.0


def test_streamed_admission_dedup_audit_and_index(spark, store):
    vi, seed, rnd = store
    new = [(100 + i, _vec(rnd)) for i in range(20)]
    batch = (
        [{"vec_id": i, "embedding": v} for i, v in new]
        # resubmits of seed vectors: must be rejected by the id index
        + [{"vec_id": 3, "embedding": seed[3][1]},
           {"vec_id": 5, "embedding": seed[5][1]}]
        # defect rows: must land in quarantine with a reason
        + [{"vec_id": 200, "embedding": None},
           {"vec_id": 201, "embedding": [1.0] * (DIM - 1)},
           {"vec_id": 202, "embedding": [float("nan")] + [0.0] * (DIM - 1)},
           {"vec_id": 203, "embedding": [0.0] * DIM},
           # three-valued-logic traps: a null ELEMENT (right length)
           # and a null id must be rejected, not silently admitted
           {"vec_id": 204, "embedding": [1.0, None] + [0.0] * (DIM - 2)},
           {"vec_id": None, "embedding": [1.0] * DIM}]
    )
    vi.submit_many(batch)
    vi.start()
    vi.query.processAllAvailable()
    vi.stop(drain=False)

    assert vi.read().count() == 60  # 40 seed + 20 new, no dups
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    assert set(range(40)) | {100 + i for i in range(20)} == ids
    reasons = {r.vec_id: r.reject_reason for r in vi.rejected().collect()}
    assert reasons == {
        200: "null_embedding", 201: "wrong_dim",
        202: "non_finite", 203: "zero_norm",
        204: "null_element", None: "null_id",
    }
    # every admitted vector is indexed: assignment + code present
    assert vi.assignments().count() == 60
    assert vi.codes().count() == 60
    st = vi.staleness()
    assert st["n_total"] == 60 and st["n_at_build"] == 40
    assert abs(st["stale_frac"] - 20 / 60) < 1e-6


def test_incremental_assignment_agrees_with_model(spark, store):
    # nearest-centroid fold == what a full rebuild of the SEED corpus
    # assigns (frozen centroids, same vectors => identical labels)
    vi, seed, rnd = store
    before = {r.vec_id: r.label for r in vi.assignments().collect()}
    new = [(300 + i, _vec(rnd)) for i in range(15)]
    vi.submit_many([{"vec_id": i, "embedding": v} for i, v in new])
    vi.start()
    vi.query.processAllAvailable()
    vi.stop(drain=False)
    after = {r.vec_id: r.label for r in vi.assignments().collect()}
    # python reference: L2-nearest frozen centroid, ties to lower label
    cents = [list(r.cv) for r in sorted(
        vi.centroids().collect(), key=lambda r: r.label
    )]
    for vid, v in new:
        dists = [sum((x - y) ** 2 for x, y in zip(v, c)) for c in cents]
        assert after[vid] == dists.index(min(dists)), vid
    # seed assignments untouched
    assert all(after[k] == v for k, v in before.items())
    # codes bit-identical to the batch operator under the frozen means
    import pyspark.sql.functions as F

    means = list(spark.read.parquet(vi.means_dir).collect()[0].mv)
    emb = vi.read().filter(F.col("vec_id") >= 300)
    exp = {r.vec_id: list(r.bq)
           for r in S.binary_codes(emb, means, dim=DIM).collect()}
    got = {r.vec_id: list(r.bq)
           for r in vi.codes().filter(F.col("vec_id") >= 300).collect()}
    assert got == exp


def test_crash_retry_admits_nothing(spark, store):
    # re-running the same foreachBatch payload (Spark retries a batch
    # after a crash between appends) must be a no-op for ids/vectors
    vi, seed, rnd = store
    rows = [(500 + i, _vec(rnd)) for i in range(5)]
    rows.append((506, [0.0] * DIM))  # one quarantined row in the batch
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vi._write_batch(batch, batch_id=1)
    n1 = (vi.read().count(), vi.assignments().count(), vi.codes().count(),
          vi.rejected().count())
    vi._write_batch(batch, batch_id=1)  # retry
    n2 = (vi.read().count(), vi.assignments().count(), vi.codes().count(),
          vi.rejected().count())
    # quarantine must not double-count on retry either
    assert n1 == n2 == (45, 45, 45, 1)


def test_rebuild_resets_staleness_and_reindexes_all(spark, store):
    vi, seed, rnd = store
    vi.submit_many(
        [{"vec_id": 700 + i, "embedding": _vec(rnd)} for i in range(20)]
    )
    vi.start()
    vi.query.processAllAvailable()
    vi.stop(drain=False)
    assert vi.staleness()["stale_frac"] > 0
    vi.rebuild()
    st = vi.staleness()
    assert st["stale_frac"] == 0.0 and st["n_at_build"] == 60
    assert vi.assignments().count() == 60
    assert vi.codes().count() == 60
    # rebuilt assignments are the k-means optimum of the GROWN corpus:
    # every vector sits with its nearest NEW centroid
    cents = [list(r.cv) for r in sorted(
        vi.centroids().collect(), key=lambda r: r.label
    )]
    labels = {r.vec_id: r.label for r in vi.assignments().collect()}
    for r in vi.read().collect():
        dists = [sum((x - y) ** 2 for x, y in zip(r.embedding, c))
                 for c in cents]
        assert labels[r.vec_id] == dists.index(min(dists)), r.vec_id
    # and search over the maintained index works end to end
    import pyspark.sql.functions as F

    cent_df = vi.centroids().select(
        F.col("label").cast("long").alias("label"), "cv"
    )
    got = S.ivf_topk(
        vi.read(), [0, 1], k=5,
        assignments=vi.assignments(),
        centroids=cent_df,
        n_probe=4,
    ).collect()
    assert len(got) == 10


def test_semantic_neardup_admission(spark, tmp_path):
    # dim 64: random sign codes sit ~32 bits apart, so hamming<=2
    # collisions between genuinely different vectors are impossible in
    # practice, while a copied payload hits hamming 0 exactly
    dim = 64
    rnd = random.Random(11)
    mk = lambda: [round(rnd.uniform(-1, 1), 6) for _ in range(dim)]
    seed = [(i, mk()) for i in range(30)]
    emb = spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    vi = VectorIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dim=dim,
        n_clusters=4,
        neardup_hamming=2,
    )
    vi.bootstrap(emb)
    # the case id-dedup alone cannot catch: a seed vector's PAYLOAD
    # resubmitted under a brand-new id; plus a genuinely new vector
    batch = spark.createDataFrame(
        [(900, list(seed[3][1])), (901, mk())],
        "vec_id long, embedding array<double>",
    )
    vi._write_batch(batch, batch_id=1)
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    reasons = {r.vec_id: r.reject_reason for r in vi.rejected().collect()}
    assert 900 not in ids and reasons.get(900) == "near_duplicate"
    assert 901 in ids
    # within-batch semantic dedup: the same new payload under two new
    # ids in ONE batch -> smaller id wins
    v = mk()
    vi._write_batch(spark.createDataFrame(
        [(910, v), (911, list(v))], "vec_id long, embedding array<double>"
    ), batch_id=2)
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    assert 910 in ids and 911 not in ids
    # cross-batch: the batch-2 admit is now in the chunk index
    batch3 = spark.createDataFrame(
        [(920, list(v))], "vec_id long, embedding array<double>")
    vi._write_batch(batch3, batch_id=3)
    assert 920 not in {r.vec_id for r in vi.read().select("vec_id").collect()}
    # retry of batch 3 is a no-op everywhere (incl. quarantine)
    before = (vi.read().count(), vi.rejected().count())
    vi._write_batch(batch3, batch_id=3)
    assert (vi.read().count(), vi.rejected().count()) == before


def _mk_vi(spark, tmp_path, sub, dim, hamming):
    return VectorIngest(
        spark,
        store_dir=str(tmp_path / sub / "store"),
        inbox_dir=str(tmp_path / sub / "inbox"),
        checkpoint_dir=str(tmp_path / sub / "ckpt"),
        dim=dim,
        n_clusters=2,
        neardup_hamming=hamming,
    )


def test_neardup_full_code_distance_beyond_64_dims(spark, tmp_path):
    # dim 128 -> bq has two 64-bit words. A vector that MATCHES an
    # admitted vector on the first 64 dims but flips EVERY dim >= 64
    # is 64 bits away on the full code — it must be admitted. (The
    # pre-fix word-0-only distance saw hamming 0 and falsely rejected
    # it.) A true near-dup differing in 1 bit of the SECOND word must
    # still be rejected.
    dim = 128
    rnd = random.Random(23)
    sv = lambda: [float(rnd.choice((-1, 1))) for _ in range(dim)]
    seed = [(i, sv()) for i in range(30)]
    vi = _mk_vi(spark, tmp_path, "w2", dim, hamming=2)
    vi.bootstrap(
        spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    )
    base = seed[5][1]
    tail_flipped = base[:64] + [-x for x in base[64:]]
    one_bit_w2 = list(base)
    one_bit_w2[100] = -one_bit_w2[100]
    vi._write_batch(
        spark.createDataFrame(
            [(800, tail_flipped), (801, one_bit_w2)],
            "vec_id long, embedding array<double>",
        ),
        batch_id=1,
    )
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    reasons = {r.vec_id: r.reject_reason for r in vi.rejected().collect()}
    assert 800 in ids, "differs in 64 of 128 dims; not a near-dup"
    assert 801 not in ids and reasons.get(801) == "near_duplicate"


def test_neardup_within_batch_greedy_not_transitive(spark, tmp_path):
    # chain A~B~C with A not~ C (r=2): greedy in id order admits A,
    # rejects B (near A), and ADMITS C — its only conflict B was
    # itself rejected. The old drop-larger-of-every-pair rejected C.
    dim = 64
    rnd = random.Random(31)
    sv = lambda: [float(rnd.choice((-1, 1))) for _ in range(dim)]
    seed = [(i, sv()) for i in range(30)]
    vi = _mk_vi(spark, tmp_path, "chain", dim, hamming=2)
    vi.bootstrap(
        spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    )
    a = sv()
    b = list(a); b[0] = -b[0]; b[1] = -b[1]          # 2 bits from a
    c = list(b); c[2] = -c[2]; c[3] = -c[3]          # 2 from b, 4 from a
    vi._write_batch(
        spark.createDataFrame(
            [(901, a), (902, b), (903, c)],
            "vec_id long, embedding array<double>",
        ),
        batch_id=1,
    )
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    assert 901 in ids and 902 not in ids and 903 in ids


def test_rebuild_refuses_while_stream_running(spark, tmp_path):
    rnd = random.Random(5)
    seed = [(i, _vec(rnd)) for i in range(20)]
    vi = VectorIngest(
        spark,
        store_dir=str(tmp_path / "store"),
        inbox_dir=str(tmp_path / "inbox"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dim=DIM,
        n_clusters=2,
    )
    vi.bootstrap(
        spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    )
    vi.start()
    try:
        with pytest.raises(RuntimeError, match="stopped"):
            vi.rebuild()
    finally:
        vi.stop(drain=False)
    vi.rebuild()  # fine once stopped


def test_legacy_chunk_index_without_bq_migrates(spark, tmp_path):
    # a pre-r5 chunk index has no `bq` column; on first probe it is
    # rewritten once with bq=[code] and admission still rejects
    # near-dups of seed payloads.
    dim = 64
    rnd = random.Random(47)
    sv = lambda: [float(rnd.choice((-1, 1))) for _ in range(dim)]
    seed = [(i, sv()) for i in range(30)]
    vi = _mk_vi(spark, tmp_path, "legacy", dim, hamming=2)
    vi.bootstrap(
        spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    )
    from pyspark.sql import functions as F

    legacy = (
        spark.read.parquet(vi.chunks_dir).drop("bq").localCheckpoint(eager=True)
    )
    legacy.write.mode("overwrite").parquet(vi.chunks_dir)
    vi._write_batch(
        spark.createDataFrame(
            [(700, list(seed[4][1])), (701, sv())],
            "vec_id long, embedding array<double>",
        ),
        batch_id=1,
    )
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    assert 700 not in ids and 701 in ids
    assert "bq" in spark.read.parquet(vi.chunks_dir).columns


def test_legacy_chunk_index_dim_over_64_prefix_semantics(spark, tmp_path):
    # migrated legacy entries carry ONE word; with dim=128 the batch
    # codes carry two. The distance must compare the common prefix
    # (what the legacy index can attest to) — NOT null out and admit
    # everything (the fail-open bug this test pins).
    dim = 128
    rnd = random.Random(61)
    sv = lambda: [float(rnd.choice((-1, 1))) for _ in range(dim)]
    seed = [(i, sv()) for i in range(30)]
    vi = _mk_vi(spark, tmp_path, "legacy128", dim, hamming=2)
    vi.bootstrap(
        spark.createDataFrame(seed, "vec_id long, embedding array<double>")
    )
    from pyspark.sql import functions as F

    legacy = (
        spark.read.parquet(vi.chunks_dir).drop("bq").localCheckpoint(eager=True)
    )
    legacy.write.mode("overwrite").parquet(vi.chunks_dir)
    base = seed[9][1]
    # word-0 identical to an admitted vector, tail flipped: the
    # legacy index only attests the first 64 dims -> near-dup, reject
    prefix_dup = base[:64] + [-x for x in base[64:]]
    fresh = sv()
    vi._write_batch(
        spark.createDataFrame(
            [(600, prefix_dup), (601, fresh)],
            "vec_id long, embedding array<double>",
        ),
        batch_id=1,
    )
    ids = {r.vec_id for r in vi.read().select("vec_id").collect()}
    reasons = {r.vec_id: r.reject_reason for r in vi.rejected().collect()}
    assert 600 not in ids and reasons.get(600) == "near_duplicate"
    assert 601 in ids
