"""Helpers shared by the read-path tests: builders for the heterogeneous
warehouses every read path must give one verdict on, and a probe that a
call launches no Spark job. Not a test module (pytest collects only
``test_*.py``); test files import it by name."""

from __future__ import annotations

from pyspark.sql import functions as F

from vcf2df_spark import fixtures
from vcf2df_spark.encode import encode_transcripts, normalize_input


def no_spark_jobs(spark, fn):
    """fn()'s result, asserting it launched no Spark job (the status
    tracker's job ids for a dedicated job group stay empty)."""
    import uuid

    sc = spark.sparkContext
    group = f"no-spark-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "must stay empty")
    try:
        out = fn()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out


def _encode(spark, pdf, path, num_partitions=2):
    src = normalize_input(spark.createDataFrame(pdf))
    encode_transcripts(src, num_partitions=num_partitions, chunk_rows=64) \
        .write.parquet(path)


def evolved_wh(spark, root: str) -> tuple[int, int]:
    """Epoch 0: core six columns. Epoch 1: adds (score f64, model str) —
    the streaming schema-change case the strict decode refuses. Returns
    the two epochs' row counts."""
    pdf0 = fixtures.transcripts_small(n_convs=30, seed=5)
    pdf0["conv_id"] = "a-" + pdf0["conv_id"]
    _encode(spark, pdf0, f"{root}/blocks/epoch=0")
    pdf1 = fixtures.transcripts_small(n_convs=20, seed=6)
    pdf1["conv_id"] = "b-" + pdf1["conv_id"]
    pdf1["score"] = [float(i % 7) / 2 for i in range(len(pdf1))]
    pdf1["model"] = ["m-" + str(i % 3) for i in range(len(pdf1))]
    _encode(spark, pdf1, f"{root}/blocks/epoch=1")
    return len(pdf0), len(pdf1)


def type_change_wh(spark, root: str) -> None:
    """Column ``flag`` is f64 in epoch 0 and bool in epoch 1."""
    pdf0 = fixtures.transcripts_small(n_convs=10, seed=7)
    pdf0["flag"] = [float(i) for i in range(len(pdf0))]
    _encode(spark, pdf0, f"{root}/blocks/epoch=0", num_partitions=1)
    pdf1 = fixtures.transcripts_small(n_convs=10, seed=8)
    pdf1["conv_id"] = "z-" + pdf1["conv_id"]
    pdf1["flag"] = [i % 2 == 0 for i in range(len(pdf1))]
    _encode(spark, pdf1, f"{root}/blocks/epoch=1", num_partitions=1)


def colliding_wh(spark, root: str) -> None:
    """Two encodes (the second with an extra ``score``) appended into one
    flat blocks dir: their (partition_id, chunk_idx) keys collide."""
    base = fixtures.transcripts_tiny()
    ext = base.copy()
    ext["score"] = 1.5
    for pdf in (base, ext):
        encode_transcripts(spark.createDataFrame(pdf), 2).write.mode(
            "append").parquet(f"{root}/blocks")


def drop_block(spark, blocks_path: str, out_path: str,
               column: str = "role", chunk_idx: int = 0) -> None:
    """Copy a blocks table into one flat file without ``column``'s block in
    chunk ``chunk_idx`` of every partition: incomplete chunk groups."""
    spark.read.parquet(blocks_path).filter(
        ~((F.col("column") == column) & (F.col("chunk_idx") == chunk_idx))
    ).coalesce(1).write.parquet(out_path)
