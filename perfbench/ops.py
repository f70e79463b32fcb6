"""The benchmark's operations: each calls the program, is timed, and is
checked against the corpus oracle.

An operation fails if it raises or if its check fails; the first failure
ends the run (the benchmark never retries or skips a check).
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import time

import pandas as pd

from vcf2df_spark import fixtures
from vcf2df_spark.datasource import scan_warehouse
from vcf2df_spark.rewrite import routed_rewrite
from vcf2df_spark.scan import fetch_conversation
from vcf2df_spark.sources import read_transcripts

POINT_COLUMNS = ["conv_id", "turn_idx", "text"]
# a query cycle looks up for at least this long (the loop's last one runs
# to its deadline), and at least this many times; a longer window evens
# out short stalls of a shared host
LOOKUP_WINDOW_S = 1.5
MIN_LOOKUPS = 20


class OpFailed(Exception):
    pass


def load_job(root: str, name: str):
    """A ``jobs/<name>.py`` module, loaded from its file (jobs/ is not a
    package)."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(root, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_job(mod, argv: list[str]) -> dict:
    """Call a job's ``main(argv)``; return the JSON line it prints."""
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            mod.main(argv)
    except SystemExit as e:
        raise RuntimeError(f"job exited {e.code}: {buf.getvalue()[-400:]}") from None
    outs = [json.loads(ln) for ln in buf.getvalue().splitlines()
            if ln.startswith("{")]
    return [o for o in outs if "status" in o][-1]


class Bench:
    """One run's program calls, their timings and their verdicts."""

    def __init__(self, spark, root: str, work: str, src: str, oracle,
                 tracer, partitions: int, cpus: int):
        self.spark, self.work, self.src = spark, work, src
        self.oracle, self.tracer = oracle, tracer
        self.partitions, self.cpus = partitions, cpus
        self.encode_job = load_job(root, "encode")
        self.verify_job = load_job(root, "decode_verify")
        # (kind, seconds, output, span, sampled) of every op
        self.log: list[tuple] = []
        self.sampled = True  # False during the set-up
        self.counts = {"attempted": 0, "failed": 0, "failure": None}

    def op(self, kind: str, fn, check=lambda out: None):
        """Time ``fn()`` (in a span when tracing), then ``check`` its
        output; either raising fails the op."""
        self.counts["attempted"] += 1
        try:
            with self.tracer.span(kind, spark=True) as sp:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            check(out)
        except Exception as e:  # any raise or failed check fails the op
            self.counts["failed"] += 1
            self.counts["failure"] = f"{kind}: {type(e).__name__}: {e}"
            raise OpFailed(self.counts["failure"]) from e
        self.log.append((kind, dt, out, sp, self.sampled))
        return out

    def samples(self, kind: str, sampled: bool = True) -> list[float]:
        return [dt for k, dt, _, _, s in self.log if k == kind and s == sampled]

    # ------------------------------------------------------------ ingest

    def encode(self, wh: str, job_id: str) -> None:
        """The encode job, into a fresh warehouse."""
        def check(o):
            if o["status"] != "ok" or o["rows_encoded"] != self.oracle.rows:
                raise AssertionError(f"encode reported {o}")

        self.op("encode", lambda: run_job(self.encode_job, [
            "--input", self.src, "--out", wh, "--partitions",
            str(self.partitions), "--job-id", job_id,
            "--master", f"local[{self.cpus}]",
        ]), check)

    def verify(self, wh: str) -> None:
        """decode_verify: the warehouse decodes bit-identical to the
        source multiset."""
        rows = self.oracle.rows

        def check(o):
            if (o["status"] != "bit-identical" or o["rows_decoded"] != rows
                    or o["rows_source"] != rows):
                raise AssertionError(f"decode_verify reported {o}")

        self.op("verify", lambda: run_job(self.verify_job, [
            "--warehouse", wh, "--source", self.src,
            "--master", f"local[{self.cpus}]",
        ]), check)

    # ------------------------------------------------------------- reads

    def sql_point(self, wh: str, conv_id: str) -> None:
        def fn():
            scan_warehouse(
                self.spark, wh, [f"conv_id = '{conv_id}'"], columns=POINT_COLUMNS,
            ).createOrReplaceTempView("pb_point")
            return self.spark.sql(
                "SELECT conv_id, turn_idx, text FROM pb_point "
                f"WHERE conv_id = '{conv_id}'"
            ).collect()

        self.op("sql_point", fn, lambda rows: self.oracle.check_conv(
            pd.DataFrame([r.asDict() for r in rows], columns=POINT_COLUMNS),
            conv_id, POINT_COLUMNS))

    def lookup(self, wh: str, conv_id: str, kind: str = "lookup") -> None:
        self.op(kind, lambda: fetch_conversation(self.spark, wh, conv_id),
                lambda got: self.oracle.check_conv(got, conv_id))

    # ------------------------------------------------------------ writes

    def upsert(self, wh: str, conv_id: str) -> None:
        """Replace c with its own source rows, handed over as a parquet
        file of just those rows (the upsert job's input)."""
        a, b = self.oracle.span[conv_id]
        n = b - a
        path = os.path.join(self.work, f"upsert-{conv_id}.parquet")
        fixtures.write_parquet(self.oracle.frame.iloc[a:b], path)
        rep = read_transcripts(self.spark, path)

        def check(o):
            if (o["status"] != "ok" or o["rows_inserted"] != n
                    or o["rows_deleted"] != n):
                raise AssertionError(f"upsert of {n} rows reported {o}")

        self.op("upsert", lambda: routed_rewrite(
            self.spark, wh, [conv_id], f"pb-upsert-{self.counts['attempted']}",
            "perfbench upsert", replacement=rep), check)

    # ------------------------------------------------------------ cycles

    def query_cycle(self, wh: str, draw, window: float) -> None:
        """Routed lookups of conversations ``draw()`` picks, one after
        another for ``window`` seconds and at least ``MIN_LOOKUPS``."""
        t0 = time.perf_counter()
        n = 0
        while n < MIN_LOOKUPS or time.perf_counter() - t0 < window:
            self.lookup(wh, draw())
            n += 1

    def mutate_cycle(self, wh: str, conv_id: str) -> None:
        """Upsert c's own rows over c, then read c back: the rewrite keeps
        the source multiset. The read right after the commit is checked
        but kept out of the lookup latency samples."""
        self.upsert(wh, conv_id)
        self.lookup(wh, conv_id, "rw_lookup")


def tree_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the ``suffix`` files under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size
