"""Seeded end-to-end benchmark of the transcript engine.

    python3 perfbench/run.py --workload agent --seed 1 --seconds 7 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones, by the names and
units BENCHMARK.json gives (see README.md). The full record of a run
(environment, corpus facts, set-up phase walls, every sample, per-stage
breakdowns) and, for a traced run,
its spans go to ``.perfbench/results/``. Exit status: 0 when every checked
operation passed, 1 when one failed, 2 when the program is not there.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())  # metric names, units

TURNS = 24_000
# The two workloads differ in one input property: whether the corpus holds
# agent-run conversations far above TURNS_PER_SPLIT. They make the encoder
# salt-split, and they raise the warehouse's turn_max, from which lookups
# and rewrites route one conversation to turn_max // TURNS_PER_SPLIT + 1
# partitions. Without them every conversation routes to one partition.
WORKLOADS = {"agent": True, "chat": False}
# One client in a closed loop (the next op starts when the previous one
# returns): Q I Q I ... Q, where I = the encode job into a fresh warehouse,
# which the later windows read, and Q = a window of routed lookups. The
# lookups open and close the loop, so their samples span all of it, and
# the last window runs to the deadline.
# Unsampled lookups at the end of the set-up, for this long: a process's
# first lookups run at two to three times the warm latency, and the next
# few seconds of them still drift down.
WARM_LOOKUPS_S = 1.0
LOOP_KINDS = ("encode", "verify", "sql_point", "lookup", "rw_lookup",
              "upsert")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=TURNS,
                   help="corpus size in turns (smaller for the smoke test)")
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file the run and its JVM write inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={shlex.quote(str(tmp))} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.enabled=false pyspark-shell")


def start_spark(cpus: int, partitions: int, work: Path):
    from vcf2df_spark import shipping
    from vcf2df_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench",
                      shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package from inside the checkout (ensure_shipped would
    # write its zip under the system temp dir)
    zpath = work / "vcf2df_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted((ROOT / "vcf2df_spark").rglob("*.py")):
            z.write(f, f.relative_to(ROOT))
    spark.sparkContext.addPyFile(str(zpath))
    shipping._shipped.add(id(spark.sparkContext))
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_corpus(seed: int, turns: int, agent: bool, path: Path):
    from vcf2df_spark import fixtures

    from corpus import Oracle, generate

    df, mega = generate(seed, turns, agent)
    size = fixtures.write_parquet(df, str(path))
    return Oracle(df, mega), size


def e2e_metrics(bench, setup_s: float, disk_ratio: float) -> dict:
    rows = bench.oracle.rows
    med = statistics.median
    return {
        "setup_s": setup_s,
        "encode_turns_per_s": rows / med(bench.samples("encode")),
        "verify_turns_per_s": rows / med(bench.samples("verify")),
        "disk_bytes_per_input_byte": disk_ratio,
        "lookup_p50_ms": 1e3 * med(bench.samples("lookup")),
    }


def loop(bench, wh: str, seconds: float, draw) -> str:
    """Run the closed loop; return the warehouse it ended on."""
    from ops import LOOKUP_WINDOW_S

    deadline = time.perf_counter() + seconds
    bench.query_cycle(wh, draw, LOOKUP_WINDOW_S)
    for i in itertools.count(1):
        c0 = time.perf_counter()
        prev, wh = wh, str(Path(wh).with_name(f"wh{i}"))
        bench.encode(wh, f"pb-{i}")
        shutil.rmtree(prev)
        encode_s = time.perf_counter() - c0
        left = deadline - time.perf_counter()
        if left < 2 * LOOKUP_WINDOW_S + encode_s:  # no room for Q I Q
            bench.query_cycle(wh, draw, max(left, LOOKUP_WINDOW_S))
            return wh
        bench.query_cycle(wh, draw, LOOKUP_WINDOW_S)


def run(args, work: Path, record: dict, spans_path: Path) -> dict:
    """Set up, run the timed loop, and return the printed metrics."""
    import numpy as np
    from vcf2df_spark import datasource

    from ops import Bench, tree_bytes
    from spans import Tracer

    cpus = len(os.sched_getaffinity(0))
    parts = max(32, 2 * cpus)
    src = work / "corpus.parquet"
    t_start = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:  # corpus generation overlaps JVM start
        corpus = pool.submit(make_corpus, args.seed, args.turns,
                             WORKLOADS[args.workload], src)
        spark = start_spark(cpus, parts, work)
    try:
        import pandas
        import pyarrow
        import pyspark

        oracle, src_bytes = corpus.result()
        record["env"] = {
            "nproc": os.cpu_count(), "cpus": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": f"local[{cpus}]", "partitions": parts,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "numpy": np.__version__, "python": platform.python_version(),
            "scaling": ("not measured: one host of this size cannot run the "
                        "N vs 4N executor rule (ROADMAP aim 1); no scaling "
                        "number is reported"),
        }
        record["corpus"] = {
            "turns_arg": args.turns, "rows": oracle.rows,
            "conversations": oracle.n_convs,
            "conv_len_percentiles": oracle.conv_len_pcts,
            "mega_conversations": len(oracle.mega_ids),
            "zstd_parquet_bytes": src_bytes,
        }
        tracer = Tracer(spark, enabled=False)
        bench = Bench(spark, str(ROOT), str(work), str(src), oracle, tracer,
                      parts, cpus)
        record["ops"] = bench.counts
        session_s = time.perf_counter() - t_start
        rng = np.random.default_rng(args.seed)
        small = np.array(oracle.small_ids)
        ids = iter(rng.permutation(small).tolist())

        def draw() -> str:
            return str(rng.choice(small))

        # the rest of the set-up, none of it sampled: the cold first encode
        # (the DataSource formats register meanwhile), then the first
        # decode_verify, the round trip of that build, then a second encode
        # (the JVM is still compiling the encode path: a process's second
        # encode runs about a fifth slower than its third), then the first
        # lookups
        bench.sampled = False
        t0 = time.perf_counter()
        wh = str(work / "wh-cold")
        with ThreadPoolExecutor(1) as pool:
            registered = pool.submit(datasource.register, spark)
            bench.encode(wh, "pb-cold")
            registered.result()
        cold_encode_s = time.perf_counter() - t0
        bench.verify(wh)
        shutil.rmtree(wh)
        wh = str(work / "wh0")
        bench.encode(wh, "pb-0")
        bench.query_cycle(wh, draw, WARM_LOOKUPS_S)
        bench.sampled = True
        setup_s = time.perf_counter() - t_start
        record["setup"] = {"session_s": session_s,
                           "cold_encode_s": cold_encode_s,
                           "warmup_s": setup_s - session_s - cold_encode_s}

        # the timed loop (a traced run traces it, halved, and then runs the
        # per-layer probes), then decode_verify on the warehouse it left:
        # the source multiset must come back bit-identical
        tracer.enabled = bool(args.trace)
        first = len(bench.log)
        t0 = time.perf_counter()
        wh = loop(bench, wh, args.seconds / 2 if args.trace else args.seconds,
                  draw)
        loop_s = time.perf_counter() - t0
        trace_cost_s = tracer.cost_s
        if args.trace:  # for the scan and rewrite layers' counts
            bench.sql_point(wh, next(ids))
            bench.mutate_cycle(wh, next(ids))
        tracer.enabled = False
        bench.verify(wh)
        disk_ratio = tree_bytes(f"{wh}/blocks")[1] / src_bytes
        record["samples"] = {k: bench.samples(k) for k in LOOP_KINDS}
        record["cold"] = {k: bench.samples(k, sampled=False)
                          for k in LOOP_KINDS}
        record["loop_s"] = loop_s
        if not args.trace:
            return e2e_metrics(bench, setup_s, disk_ratio)

        import layers

        # the traced loop's own end-to-end figures, for comparison with an
        # untraced run of the same seed
        record["traced_e2e"] = e2e_metrics(bench, setup_s, disk_ratio)
        m = {"trace.overhead_frac": trace_cost_s / loop_s}
        tracer.enabled = True
        detail: dict = {}
        m.update(bench.op("layers", lambda: layers.measure(bench, wh, detail)))
        m.update(layers.from_log(bench.log[first:]))
        m["trace.spans"] = len(tracer.spans)
        detail["self_s"] = tracer.self_seconds()
        record["layers_detail"] = detail
        tracer.write(str(spans_path))
        return m
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not ((ROOT / "vcf2df_spark" / "__init__.py").is_file()
            and (ROOT / "jobs" / "encode.py").is_file()):
        print(f"perfbench: no vcf2df_spark package or jobs/ under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    out = ROOT / ".perfbench"
    results = out / "results"
    results.mkdir(parents=True, exist_ok=True)
    work = out / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    isolate(work)

    from ops import OpFailed

    metrics: dict = {}
    try:
        metrics = run(args, work, record, results / f"{stem}-spans.json")
    except OpFailed:
        pass  # counted in record["ops"]; the run reports correct: false
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = record.get("ops", {"attempted": 0, "failed": 0, "failure": None})
    spec = SPEC["per_layer" if args.trace else "end_to_end"]
    correct = (ops["failed"] == 0 and ops["attempted"] > 0
               and all(m["name"] in metrics for m in spec))
    result = {
        "correct": correct, "attempted": ops["attempted"],
        "failed": ops["failed"],
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]}
                    for m in spec if m["name"] in metrics},
    }
    record["result"] = result
    with open(results / f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1, default=float)
    if ops["failure"]:
        print(f"perfbench: {ops['failure']}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
