"""Per-layer measurements for the traced run.

Each probe times calls into one module's public functions from outside, on
the run's corpus and job-written warehouse. Spark work is forced through a
``noop`` sink; per-call stage metrics come from the tracer's job groups.
Kernel probes run without Spark on in-memory ``CHUNK_ROWS`` chunks of the
sorted corpus.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.compute as pc
import pyarrow.dataset as pads

from vcf2df_spark import arrow_ops, codecs, manifest, planner
from vcf2df_spark.datasource import TranscriptDataSource, read_warehouse
from vcf2df_spark.decode import decode_blocks, decode_chunk_arrow
from vcf2df_spark.encode import (
    CHUNK_ROWS, encode_chunk_arrow, encode_keyed, with_partition_key,
)
from vcf2df_spark.sources import read_transcripts
from vcf2df_spark.verify import multiset_equal

from ops import tree_bytes

STRING_COLUMNS = ("conv_id", "role", "text", "tool")
INT_COLUMNS = ("turn_idx", "ts")
# the codecs the selector may pick per column kind (codecs/__init__.py)
CODEC_MIX = {c: codecs.STRING_CODECS for c in STRING_COLUMNS} | {
    c: codecs.INT_CODECS for c in INT_COLUMNS}
MAX_CHUNKS = 4
REPEAT = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn, items=(None,) * REPEAT) -> float:
    """Median wall seconds of ``fn(item)`` over ``items``."""
    ts = []
    for it in items:
        t0 = time.perf_counter()
        fn(it)
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def measure(bench, wh: str, detail: dict) -> dict:
    """All per-layer metrics except the ``trace.*`` ones. ``detail`` gets
    the per-stage breakdowns the printed metrics summarize."""
    spark, tracer, src = bench.spark, bench.tracer, bench.src
    parts, rows = bench.partitions, bench.oracle.rows
    m: dict[str, float] = {}

    # sources + encode (Spark, noop sinks)
    m["sources.read_s"] = _median_s(
        lambda _: _noop(read_transcripts(spark, src)))
    keyed = with_partition_key(read_transcripts(spark, src), parts)
    m["encode.exchange_s"] = _median_s(
        lambda _: _noop(keyed.repartition(parts, "_pkey")))
    with tracer.span("layer.encode_keyed", spark=True) as sp:
        _noop(encode_keyed(keyed))
    m["encode.apply_s"] = sp.seconds - m["encode.exchange_s"]
    m["encode.shuffle_write_bytes"] = sp.spark["shuffle_write_bytes"]
    apply = [s for s in sp.spark["stages"] if s["shuffle_read_bytes"] > 0]
    m["encode.cpu_over_run"] = (
        sum(s["cpu_s"] for s in apply) / max(sum(s["run_s"] for s in apply), 1e-9))
    m["encode.tasks"] = sum(s["tasks"] for s in apply)
    detail["encode_keyed_stages"] = sp.spark["stages"]

    _, _, enc, job, _ = [e for e in bench.log if e[0] == "encode" and e[3]][-1]
    m["encode.partition_rows_max_over_mean"] = enc["partition_max_over_mean"]
    st = job.spark
    m.update({
        "encode_job.wall_s": job.seconds,
        "encode_job.spark_jobs": st["jobs"],
        "encode_job.stages": len(st["stages"]),
        "encode_job.tasks": st["tasks"],
        "encode_job.executor_run_s": st["run_s"],
        "encode_job.executor_cpu_s": st["cpu_s"],
        "encode_job.stage_run_s.max": max((s["run_s"] for s in st["stages"]),
                                          default=0.0),
        "encode_job.output_bytes": st["output_bytes"],
    })
    detail["encode_job_stages"] = st["stages"]

    m.update(_kernels(spark, src, wh))

    # manifests and the blocks layout the encode job left
    blocks = spark.read.parquet(f"{wh}/blocks")
    out = os.path.join(bench.work, "layer_manifests")
    m["manifest.build_s"] = _median_s(lambda _: manifest.build_manifests(
        blocks, "perfbench", src, num_partitions=parts,
    ).write.mode("overwrite").parquet(out), [None])
    m["manifest.bytes"] = tree_bytes(f"{wh}/manifests")[1]
    m["blocks.files"], m["blocks.bytes"] = tree_bytes(f"{wh}/blocks")

    # datasource: planning, in-process read of every file, Spark scan
    m["datasource.plan_ms"] = 1e3 * _median_s(
        lambda _: read_warehouse(spark, wh).schema, [None] * 3)
    ds = TranscriptDataSource({"path": wh})
    reader = ds.reader(ds.schema())
    files = reader.partitions()
    m["datasource.files"] = len(files)
    t0 = time.perf_counter()
    n = sum(b.num_rows for f in files for b in reader.read(f))
    m["datasource.read_inproc_s"] = time.perf_counter() - t0
    if n != rows:
        raise AssertionError(f"in-process read gave {n} rows, want {rows}")
    m["datasource.scan_noop_s"] = _median_s(
        lambda _: _noop(read_warehouse(spark, wh)))
    m["datasource.overhead_frac"] = 1 - m["datasource.read_inproc_s"] / (
        bench.cpus * m["datasource.scan_noop_s"])

    # decode: one file's chunks in-process, then the grouped Spark decode
    m["decode.chunk_decode_ms"] = 1e3 * _median_s(
        decode_chunk_arrow, _chunk_groups(f"{wh}/blocks")[:MAX_CHUNKS])
    m["decode.grouped_noop_s"] = _median_s(
        lambda _: _noop(decode_blocks(blocks)))

    t0 = time.perf_counter()
    res = multiset_equal(read_transcripts(spark, src),
                         read_warehouse(spark, wh))
    m["verify.multiset_equal_s"] = time.perf_counter() - t0
    if not res["equal"]:
        raise AssertionError(f"multiset_equal: {res}")
    return m


def _kernels(spark, src: str, wh: str) -> dict:
    """Codec kernels on CHUNK_ROWS chunks of the corpus, sorted as the
    encoder sorts it; codec mix as the encode job chose it."""
    tbl = read_transcripts(spark, src).toArrow()
    tbl = tbl.take(pc.sort_indices(
        tbl, sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")]))
    chunks = [tbl.slice(lo, CHUNK_ROWS)
              for lo in range(0, tbl.num_rows, CHUNK_ROWS)][:MAX_CHUNKS]
    m: dict[str, float] = {}
    m["encode.chunk_encode_ms"] = 1e3 * _median_s(
        lambda c: encode_chunk_arrow(c, 0, 0, {}), chunks)
    for col in STRING_COLUMNS:
        m[f"arrow_ops.encode_string_ms.{col}"] = 1e3 * _median_s(
            lambda c: arrow_ops.encode_string_column(
                c.column(col).combine_chunks(), hints={}), chunks)
    for col in INT_COLUMNS:
        arrs = [c.column(col).combine_chunks() for c in chunks]
        vals = [(a.cast("int64") if col == "ts" else a).to_numpy() for a in arrs]
        m[f"arrow_ops.encode_int_ms.{col}"] = 1e3 * _median_s(
            arrow_ops.encode_int_column, vals)

    # the FSST trial runs on string chunks too diverse for dict/rle
    # (arrow_ops.encode_string_column's gate)
    trials = []
    for c in chunks:
        for col in STRING_COLUMNS:
            arr = c.column(col).combine_chunks()
            ndv = len(pc.unique(arr))
            if not (0 < ndv <= 4096 and ndv <= max(len(arr) / 4, 1)):
                trials.append(arrow_ops.string_buf_lengths(arr))
    wins = []
    m["planner.fsst_trial_ms"] = 1e3 * _median_s(
        lambda t: wins.append(planner.fsst_sample_wins_buf(*t)), trials
    ) if trials else 0.0
    m["planner.fsst_trial_win_frac"] = (
        sum(wins) / len(wins) if wins else 0.0)

    mix = pads.dataset(f"{wh}/blocks", format="parquet",
                       partitioning="hive").to_table(columns=["column", "codec"])
    counts: dict[tuple, int] = {}
    for r in mix.group_by(["column", "codec"]).aggregate(
            [("codec", "count")]).to_pylist():
        counts[(r["column"], r["codec"])] = r["codec_count"]
    for col, ks in CODEC_MIX.items():
        for k in ks:
            m[f"planner.codec_mix.{col}.{k}"] = counts.get((col, k), 0)
    return m


def _chunk_groups(blocks_root: str) -> list[list[dict]]:
    """Block rows of the first blocks file, grouped per chunk."""
    path = next(
        os.path.join(d, f) for d, _, fs in sorted(os.walk(blocks_root))
        for f in sorted(fs) if f.endswith(".parquet")
    )
    groups: dict[int, list[dict]] = {}
    for r in pads.dataset(path, format="parquet").to_table().to_pylist():
        if not r["column"].startswith("__"):
            groups.setdefault(r["chunk_idx"], []).append(r)
    return [groups[k] for k in sorted(groups)]


def from_log(log: list[tuple]) -> dict:
    """Counts from the traced loop's own spans: Spark jobs per lookup, per
    point SQL and per routed rewrite, and bytes written per changed row."""
    def traced(*kinds):
        return [(out, sp) for k, _, out, sp, _ in log if k in kinds and sp]

    def med(xs):
        return float(statistics.median(xs)) if xs else 0.0

    rw = traced("upsert")
    point = [sp.spark for _, sp in traced("sql_point")]
    return {
        "scan.lookup_spark_jobs": max(
            (sp.spark["jobs"] for _, sp in traced("lookup", "rw_lookup")),
            default=0),
        "sql_point.tasks": med([s["tasks"] for s in point]),
        "sql_point.spark_jobs": med([s["jobs"] for s in point]),
        "rewrite.spark_jobs": med([sp.spark["jobs"] for _, sp in rw]),
        "rewrite.partitions_rewritten": med(
            [len(out["partitions_rewritten"]) for out, _ in rw]),
        "rewrite.bytes_written_per_row_changed": med(
            [sp.spark["output_bytes"]
             / max(out["rows_deleted"] + out["rows_inserted"], 1)
             for out, sp in rw]),
    }
