"""Table schemas for the encoded-blocks and manifests tables.

The persistent data model (SURVEY.md §1.4): one block row per
(partition, chunk, column) holding the codec payload + aux (symbol tables),
and one manifest row per partition — the queryable analogue of the
reference's Parquet footer key-value metadata (``converter/convert.go:64``,
``converter/reservedColumns.go:31-56``) extended with lineage, byte counts
and commit status (the checkpoint/resume commit log).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

TRANSCRIPT_COLUMNS = [f.name for f in TRANSCRIPT_SCHEMA.fields]

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("aux", T.BinaryType(), True),
        T.StructField("meta", T.StringType(), False),  # JSON codec params
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        # zone maps: per-chunk min/max for predicate-driven chunk pruning
        # (the engine's analogue of Parquet row-group statistics)
        T.StructField("stat_min_str", T.StringType(), True),
        T.StructField("stat_max_str", T.StringType(), True),
        T.StructField("stat_min_num", T.LongType(), True),
        T.StructField("stat_max_num", T.LongType(), True),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_chunks", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("codecs", T.StringType(), False),  # JSON sorted ["col:codec", ...]
        T.StructField("column_desc", T.StringType(), False),  # JSON col->description
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("checksum", T.StringType(), False),
        T.StructField("input_path", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("committed_at", T.LongType(), False),
        # partition-level zone map on the sort key: lets a point lookup
        # prune to ~1 partition dir from the tiny manifests table alone
        T.StructField("conv_min", T.StringType(), True),
        T.StructField("conv_max", T.StringType(), True),
        # hash-routing metadata: with the partitioner's modulus on record a
        # lookup COMPUTES its partition dirs (sparkhash.pkey_for) instead
        # of scanning stats, and each partition's turn range bounds the
        # splits it can hold — one dir per split that the partition's turn
        # range allows (null = unknown, the partition is always opened)
        T.StructField("num_partitions", T.IntegerType(), True),
        T.StructField("turn_min", T.LongType(), True),
        T.StructField("turn_max", T.LongType(), True),
        # two-level blocks layout: shard=partition_id%shard_dirs above the
        # partition dirs (null = single-level); readers derive dir paths
        T.StructField("shard_dirs", T.IntegerType(), True),
        # JSON column->ctype map for this partition's chunks: lets read
        # planning resolve the warehouse schema from O(partitions) manifest
        # rows instead of the full blocks metadata (datasource.infer_ctypes)
        T.StructField("schema_sig", T.StringType(), True),
    ]
)
