"""Distributed decode: encoded blocks DataFrame -> transcripts DataFrame.

The independent-reader half of the round-trip contract (reference analogue:
``readParquet`` re-opening the output with a second reader,
``converter/convert_test.go:63-97``). Groups the column blocks of each
(partition, chunk) and reverses the codec kernels; bit-identical by the
codec contract, verified in tests by per-turn ``text`` equality and full
column comparison under stable (conv_id, turn_idx) ordering.

Dynamic schema: each block's meta carries ``ctype`` (str/i32/i64/ts/f64/
bool), so decode rebuilds exactly the columns the table was encoded with —
core six plus any extras — without a hardcoded column list. Every read
path derives the output schema with ONE function, :func:`resolve_ctypes`,
over per-chunk (column, ctype) signatures (the analogue of reading a
Parquet footer); feeders only produce the signatures — from the
manifests, from the blocks files via pyarrow, or by one Spark aggregate.

Arrow-native like the encode path: string columns are rebuilt directly
from (utf8 buffer, offsets) with no per-row Python.
"""

from __future__ import annotations

import json
from typing import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from . import arrow_ops, codecs
from .blocks import TRANSCRIPT_COLUMNS

# legacy blocks (written before ctype landed) carry only the core columns
_CORE_CTYPES = {
    "conv_id": "str", "role": "str", "text": "str", "tool": "str",
    "turn_idx": "i32", "ts": "ts",
}

_CTYPE_TO_ARROW = {
    "str": pa.string(),
    "i32": pa.int32(),
    "i64": pa.int64(),
    "ts": pa.timestamp("us", tz="UTC"),
    "f64": pa.float64(),
    "bool": pa.bool_(),
}


def _column_order(cols) -> list[str]:
    """Core columns in canonical order, then extras lexically (M2)."""
    core = [c for c in TRANSCRIPT_COLUMNS if c in cols]
    return core + sorted(c for c in cols if c not in set(TRANSCRIPT_COLUMNS))


def group_keys(blocks: DataFrame) -> list[str]:
    """Decode group identity. A streaming warehouse's blocks live under
    ``epoch=N`` partition dirs, so reading the whole warehouse surfaces an
    ``epoch`` column — it MUST be part of the group key or two epochs that
    reuse (partition_id, chunk_idx) would be fused into one corrupt chunk
    (ADVICE r2: the pid-remap alone breaks on restart with a different
    num_partitions)."""
    return ["partition_id", "chunk_idx"] + (
        ["epoch"] if "epoch" in blocks.columns else []
    )


def block_ctype(column: str, meta: dict) -> str:
    """One block's ctype from its parsed meta; legacy blocks have none."""
    return meta.get("ctype") or _CORE_CTYPES.get(column, "str")


def _decode_one(r: dict, n: int) -> pa.Array:
    payload = bytes(r["payload"] or b"")
    aux = bytes(r["aux"] or b"")
    meta = json.loads(r["meta"])
    ctype = block_ctype(r["column"], meta)
    if ctype == "str":
        arr = arrow_ops.decode_string_column(r["codec"], payload, aux, meta, n)
        if pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.string())
        return arr
    values = codecs.decode(r["codec"], payload, aux, meta, n)
    if ctype == "ts":
        return pa.array(np.asarray(values, dtype=np.int64)).cast(
            pa.timestamp("us", tz="UTC")
        )
    if ctype == "i32":
        return pa.array(np.asarray(values, dtype=np.int32), type=pa.int32())
    if ctype == "i64":
        return pa.array(np.asarray(values, dtype=np.int64), type=pa.int64())
    if ctype == "f64":
        return pa.array(np.asarray(values, dtype=np.float64), type=pa.float64())
    if ctype == "bool":
        return pa.array(np.asarray(values, dtype=np.bool_), type=pa.bool_())
    raise ValueError(f"unknown ctype {ctype}")


def decode_chunk_arrow(block_rows: list[dict]) -> pa.Table:
    """Block dicts (one per column present) -> reconstructed Arrow chunk.

    Columns absent from ``block_rows`` are skipped — the column-pruned
    decode path ships only the requested columns' blocks to this UDF.
    """
    by_col = {r["column"]: r for r in block_rows}
    n = int(block_rows[0]["n_rows"])
    order = _column_order(by_col)
    arrays = [_decode_one(by_col[c], n) for c in order]
    schema = pa.schema([pa.field(c, a.type) for c, a in zip(order, arrays)])
    return pa.Table.from_arrays(arrays, schema=schema)


def _decode_group(table: pa.Table) -> pa.Table:
    return decode_chunk_arrow(table.to_pylist())


def _default_array(ctype: str, n: int) -> pa.Array:
    """Typed zero-default column for merged-schema decode — the SAME
    defaults ``normalize_input`` imputes on encode (str "", int 0,
    f64 0.0, bool false, ts epoch-0), so an evolved column reads back
    exactly as if the old rows had been encoded after the evolution."""
    if ctype == "str":
        return pa.nulls(n, pa.string()).fill_null("")
    if ctype == "ts":
        return pa.array(np.zeros(n, dtype=np.int64)).cast(
            pa.timestamp("us", tz="UTC")
        )
    np_dtype = {"i32": np.int32, "i64": np.int64, "f64": np.float64,
                "bool": np.bool_}[ctype]
    return pa.array(np.zeros(n, dtype=np_dtype),
                    type=_CTYPE_TO_ARROW[ctype])


def _decode_group_filling(ctypes: dict):
    """Closure for merged-schema decode: chunks missing a merged column
    emit its typed default array (cloudpickle ships the closure; the
    module import itself still needs shipping.ensure_shipped)."""
    order = _column_order(ctypes)

    def fn(table: pa.Table) -> pa.Table:
        t = decode_chunk_arrow(table.to_pylist())
        n = len(t)
        arrays = [
            t[c].combine_chunks() if c in t.column_names
            else _default_array(ctypes[c], n)
            for c in order
        ]
        return pa.Table.from_arrays(arrays, names=order)

    return fn


def schema_from_ctypes(ctypes: dict[str, str]):
    """(column -> ctype) map -> the decode output Spark schema (canonical
    column order, non-nullable). The map comes from :func:`resolve_ctypes`."""
    from pyspark.sql import types as T

    to_spark = {
        "str": T.StringType(), "i32": T.IntegerType(), "i64": T.LongType(),
        "ts": T.TimestampType(), "f64": T.DoubleType(), "bool": T.BooleanType(),
    }
    return T.StructType(
        [T.StructField(c, to_spark[ctypes[c]], False)
         for c in _column_order(ctypes)]
    )


# ---------------------------------------------------------------------------
# schema derivation: one resolver over per-chunk signatures, three feeders
# ---------------------------------------------------------------------------


def resolve_ctypes(
    sigs: Iterable[Iterable[tuple[str, str | None]]],
    requested: list[str] | None = None,
    merge: bool = False,
) -> dict[str, str]:
    """(column -> ctype) map from chunk signatures — THE schema derivation
    every read path shares (the analogue of reading a Parquet footer).

    A signature is one chunk's (column, ctype-or-None) pairs, a column
    listed twice when two blocks of one column share the chunk's key. Pure
    function; the feeders below only produce signatures.

    ``requested`` restricts every signature to those columns first, so a
    narrow read of the columns all chunks share works on a warehouse whose
    extras differ. Requested columns missing from the blocks (e.g. a
    zone-map-pruned scan that matched zero chunks) still get a typed
    field — core columns from their known types, unknown extras as
    string — so downstream filters resolve against an empty result
    instead of failing analysis.

    Loud failures: a column listed twice in one signature (key
    collision); differing signatures (a second encode appending different
    extras, legacy pre-ctype blocks mixed with new, a streaming schema
    change across epochs) unless ``merge``; a column whose ctype differs
    between signatures even under ``merge`` (a type change is never
    guessable). ``merge=True`` is additive schema evolution: the
    signatures UNION into one superset schema, and chunks missing a merged
    column decode with the typed zero-defaults ``normalize_input`` uses.
    """
    keep = None if requested is None else set(requested)
    distinct = set()
    for sig in sigs:
        s = tuple(sorted(
            ((c, ct) for c, ct in sig
             if not c.startswith("__") and (keep is None or c in keep)),
            key=lambda e: (e[0], e[1] or ""),
        ))
        if s:
            distinct.add(s)
    if any(len(s) > len({c for c, _ in s}) for s in distinct):
        raise ValueError(
            "colliding chunk keys: multiple blocks for one column share a "
            "(partition_id, chunk_idx[, epoch]) group — two encode jobs "
            "appended into one blocks dir without distinct partition dirs; "
            "decode refuses to fuse them"
        )
    if len(distinct) > 1 and not merge:
        rendered = sorted(str(list(s)) for s in distinct)
        raise ValueError(
            f"heterogeneous chunk schemas in warehouse ({len(distinct)} "
            "distinct column/ctype sets) — decode refuses to guess; "
            "re-encode to one schema (jobs/compact.py --merge-schemas "
            "unifies additive evolution) or decode subsets. Signatures: "
            + "; ".join(rendered)
        )
    if not distinct:  # zero matching blocks: typed empty result
        distinct = {tuple((c, None) for c in requested or TRANSCRIPT_COLUMNS)}
    ctypes: dict[str, str] = {}
    for s in sorted(distinct, key=str):
        for c, ct0 in s:
            # legacy blocks (written before ctype landed): core types
            ct = ct0 or _CORE_CTYPES.get(c, "str")
            prev = ctypes.setdefault(c, ct)
            if prev != ct:
                raise ValueError(
                    f"column '{c}' appears with two ctypes ({prev} vs {ct}) "
                    "across chunks — a type CHANGE is never merged; "
                    "re-encode the offending batch"
                )
    return ctypes


def manifest_sigs(warehouse: str) -> list[list[tuple]] | None:
    """Feeder: one signature per committed partition, from the manifests'
    ``schema_sig`` — O(partitions) rows instead of the blocks metadata.
    None when that is unavailable (no manifests, manifests without the
    column, any null signature). A partition's signature is the union of
    its chunks', so a single chunk missing a column stays a task-side
    check (``datasource.TranscriptReader.read``)."""
    from .manifest import read_manifests

    t = read_manifests(warehouse, ("status", "schema_sig"))
    if t is None or "schema_sig" not in t.column_names:
        return None
    sigs = {
        r["schema_sig"] for r in t.to_pylist()
        if r.get("status", "committed") == "committed"
    }
    if not sigs or None in sigs:
        return None
    return [list(json.loads(s).items()) for s in sigs]


def file_sigs(files: list[str]) -> list[list[tuple]]:
    """Feeder: per-chunk signatures read with pyarrow from blocks parquet
    files' (keys, column, meta) columns — driver-side, no Spark job. Hive
    keys (partition_id / epoch) come from the path where the file lacks
    them; a chunk's key spans files, so collisions across appends show."""
    import pyarrow.parquet as pq

    ctype_of: dict[str, str | None] = {}  # meta json -> ctype
    per_chunk: dict[tuple, list[tuple]] = {}
    for f in files:
        hive = {}
        for seg in f.split("/")[:-1]:
            k, eq, v = seg.partition("=")
            if eq and k in ("partition_id", "epoch"):
                hive[k] = int(v)
        pf = pq.ParquetFile(f)
        names = set(pf.schema_arrow.names)
        t = pf.read(columns=[
            c for c in ("partition_id", "chunk_idx", "epoch", "column", "meta")
            if c in names
        ]).to_pydict()
        n = len(t["column"])
        pids = t.get("partition_id") or [hive.get("partition_id")] * n
        epochs = t.get("epoch") or [hive.get("epoch")] * n
        for pid, chunk, epoch, col, meta in zip(
            pids, t["chunk_idx"], epochs, t["column"], t["meta"]
        ):
            if meta not in ctype_of:
                ctype_of[meta] = json.loads(meta).get("ctype")
            per_chunk.setdefault((pid, chunk, epoch), []).append(
                (col, ctype_of[meta])
            )
    return list(per_chunk.values())


def spark_sigs(blocks: DataFrame) -> list[list[tuple]]:
    """Feeder for any other lineage: one Spark aggregate over the narrow
    (keys, column, ctype) projection — every chunk's sorted signature,
    deduplicated, so the driver receives one row per DISTINCT signature
    (parquet column pruning keeps the scan narrow)."""
    import pyspark.sql.functions as F

    keys = group_keys(blocks)
    rows = (
        blocks.select(
            *keys, "column",
            F.get_json_object("meta", "$.ctype").alias("ctype"),
        )
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("column", "ctype")))
             .alias("sig"))
        .select("sig").distinct().collect()
    )
    return [[(e["column"], e["ctype"]) for e in r["sig"]] for r in rows]


# the driver-side file feeder only serves decode on small metadata sets;
# past these caps one narrow Spark aggregate is the right tool — opening
# 400k footers on the driver is the anti-move
_FAST_SCHEMA_MAX_FILES = 256
_FAST_SCHEMA_MAX_ROWS = 1_000_000


def _bare_parquet_files(df: DataFrame) -> list[str] | None:
    """Local parquet file paths when ``df`` is a BARE blocks parquet scan —
    an analyzed plan that is exactly one LogicalRelation, no filters or
    projections — within the file and row caps. Only such a plan's
    signatures can be read from its files: any other lineage (pruning
    joins, in-memory encode output, unions) keeps the Spark feeder.
    Returns None on any doubt."""
    import pyarrow.parquet as pq

    if not {"partition_id", "chunk_idx", "column", "meta"} <= set(df.columns):
        return None
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        if "arquet" not in plan.relation().fileFormat().toString():
            return None
        files = [
            f[len("file:"):] if f.startswith("file:") else f
            for f in df.inputFiles()
        ]
        if (not files or len(files) > _FAST_SCHEMA_MAX_FILES
                or any("://" in f for f in files)):
            return None  # none, too many, or remote URIs
        rows = sum(pq.read_metadata(f).num_rows for f in files)
        return files if rows <= _FAST_SCHEMA_MAX_ROWS else None
    except Exception:
        return None


def decode_blocks(blocks: DataFrame, columns: list[str] | None = None,
                  out_schema=None, merge_schemas: bool = False) -> DataFrame:
    """blocks -> transcripts (row order unspecified; sort to compare).

    ``columns`` prunes the decode to the requested columns: only those
    columns' block rows are shuffled and decoded — the columnar read path
    (analogue of ReadSchema pruning at a parquet scan, but over our own
    encoded blocks).

    ``out_schema`` skips the schema derivation when the caller already
    holds the warehouse schema (e.g. ``datasource.infer_ctypes`` from the
    manifests, or across repeated decodes of one warehouse). Otherwise the
    blocks' own signatures resolve it (:func:`resolve_ctypes`): read from
    the files of a bare parquet scan, or by one Spark aggregate.

    ``merge_schemas`` opts into additive schema evolution: heterogeneous
    chunk signatures decode against their UNION schema, with typed
    zero-defaults for chunks written before a column existed. The strict
    default stays the loud failure — evolution is a deliberate maintenance
    action (jobs/compact.py --merge-schemas), not something a read should
    silently paper over.
    """
    import pyspark.sql.functions as F

    raw = blocks
    blocks = blocks.filter(~F.col("column").startswith("__"))  # markers
    if columns is not None:
        blocks = blocks.filter(F.col("column").isin(list(columns)))
    fn = _decode_group
    if out_schema is None or merge_schemas:
        files = _bare_parquet_files(raw)
        sigs = file_sigs(files) if files is not None else spark_sigs(blocks)
        ctypes = resolve_ctypes(sigs, columns, merge_schemas)
        out_schema = schema_from_ctypes(ctypes)
        if merge_schemas:
            fn = _decode_group_filling(ctypes)
    return blocks.groupBy(*group_keys(blocks)).applyInArrow(fn, out_schema)
