"""Zone-map chunk pruning + column-pruned decode tests."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vcf2df_spark import fixtures, scan
from vcf2df_spark.decode import decode_blocks
from vcf2df_spark.encode import encode_transcripts
from warehouses import no_spark_jobs


def _warehouse(spark, tmp_path):
    # small chunks -> many sorted chunks per partition -> zone maps can
    # prune within each hash partition (at production scale 64k-row chunks
    # play the same role inside multi-GB partitions)
    src = fixtures.transcripts_small(n_convs=500)
    blocks = encode_transcripts(
        spark.createDataFrame(src), num_partitions=4, chunk_rows=256
    )
    path = str(tmp_path / "wh")
    blocks.write.parquet(f"{path}/blocks")
    return src, path


def test_conv_id_range_scan_prunes_and_matches(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    total_chunks = blocks.select("partition_id", "chunk_idx").distinct().count()

    rng = ("conv-00000100", "conv-00000120")
    qual = scan.qualifying_chunks(blocks, conv_id_range=rng).count()
    assert qual < total_chunks, "zone maps must prune some chunks"

    got = (
        scan.scan_transcripts(spark, wh, conv_id_range=rng)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        src[(src.conv_id >= rng[0]) & (src.conv_id <= rng[1])]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()


def test_ts_range_scan_matches(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    lo = pd.Timestamp("2026-03-01")
    hi = pd.Timestamp("2026-03-15")
    got = scan.scan_transcripts(
        spark, wh, columns=["conv_id", "turn_idx", "ts"],
        ts_range=(lo.to_pydatetime(), hi.to_pydatetime()),
    ).toPandas()
    src_us = src["ts"].astype("datetime64[us]").astype("int64")
    mask = (src_us >= lo.value // 1000) & (src_us <= hi.value // 1000)
    assert len(got) == int(mask.sum()) > 0
    assert list(got.columns) == ["conv_id", "turn_idx", "ts"]


def test_column_pruned_decode(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    out = decode_blocks(blocks, columns=["conv_id", "role"])
    pdf = out.toPandas()
    assert list(pdf.columns) == ["conv_id", "role"]
    assert len(pdf) == len(src)
    # pruned plan shuffles only the requested columns' block rows
    assert (
        blocks.filter(F.col("column").isin(["conv_id", "role"])).count()
        == blocks.count() // 3
    )


def test_turn_idx_pruning(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    got = scan.scan_transcripts(
        spark, wh, columns=["conv_id", "turn_idx"], turn_idx_range=(150, None)
    ).toPandas()
    want = src[src.turn_idx >= 150]
    assert len(got) == len(want)


def test_sql_view_over_encoded_warehouse(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    scan.register_transcript_view(spark, wh, "t_view")
    out = spark.sql(
        "SELECT role, count(*) AS n FROM t_view GROUP BY role"
    ).toPandas().set_index("role")["n"]
    want = src.groupby("role").size()
    assert out.sort_index().equals(want.sort_index())


def test_fetch_conversation_point_lookup(spark, tmp_path):
    src, wh = _warehouse(spark, tmp_path)
    target = "conv-00000042"
    got = scan.fetch_conversation(spark, wh, target)
    want = (
        src[src.conv_id == target]
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()
    assert (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
    gts = got["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    wts = want["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    assert (gts == wts).all()
    # missing conversation -> empty frame, not an error
    assert len(scan.fetch_conversation(spark, wh, "conv-99999999")) == 0


def _ext_warehouse(spark, tmp_path):
    src = fixtures.transcripts_extended(n_convs=300)
    blocks = encode_transcripts(
        spark.createDataFrame(src.drop(columns=["tags"])),
        num_partitions=4, chunk_rows=256,
    )
    path = str(tmp_path / "whext")
    blocks.write.parquet(f"{path}/blocks")
    return src.drop(columns=["tags"]), path


def test_f64_zone_maps_prune_and_match(spark, tmp_path):
    # dynamic-column zone maps (round-3): a range on the f64 extra must
    # prune chunks via the order-preserving key AND return exact rows
    src, wh = _ext_warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    total = blocks.select("partition_id", "chunk_idx").distinct().count()

    rng = (4.9, 5.0)  # top sliver of the uniform [0, 5) score
    qual = scan.qualifying_chunks(blocks, col_ranges={"score": rng}).count()
    assert qual <= total  # pruning is best-effort; correctness is exact:

    got = (
        scan.scan_transcripts(spark, wh, columns=["conv_id", "turn_idx", "score"],
                              col_ranges={"score": rng})
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    want = (
        src[(src["score"] >= rng[0]) & (src["score"] <= rng[1])]
        [["conv_id", "turn_idx", "score"]]
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # and a range matching nothing prunes EVERY chunk
    assert scan.qualifying_chunks(blocks, col_ranges={"score": (9.0, 99.0)}).count() == 0


def test_bool_and_int_extra_zone_maps(spark, tmp_path):
    src, wh = _ext_warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    # bool stats: all-False chunks must be pruned for flagged=True
    qual_true = scan.qualifying_chunks(blocks, col_ranges={"flagged": (True, True)})
    stats = blocks.filter(F.col("column") == "flagged")
    all_false = stats.filter(F.col("stat_max_num") == 0).count()
    assert qual_true.count() + all_false == stats.count()
    # int64 extra stats recorded and usable
    got = (
        scan.scan_transcripts(spark, wh, columns=["conv_id", "turn_idx"],
                              col_ranges={"tokens_out": (0, 10)})
        .count()
    )
    want = int((src["tokens_out"] <= 10).sum())
    assert got == want


def test_string_extra_zone_maps(spark, tmp_path):
    src, wh = _ext_warehouse(spark, tmp_path)
    blocks = spark.read.parquet(f"{wh}/blocks")
    # low-cardinality string extra carries lexical min/max
    stats = blocks.filter(F.col("column") == "model")
    assert stats.filter(F.col("stat_min_str").isNull()).count() == 0
    got = scan.scan_transcripts(
        spark, wh, columns=["conv_id", "turn_idx", "model"],
        col_ranges={"model": ("m-turbo", "m-turbo")},
    ).count()
    assert got == int((src["model"] == "m-turbo").sum())
    # long-text columns stay null (the width guard) — pruning is optional
    tx = blocks.filter(F.col("column") == "text")
    assert tx.filter(F.col("stat_min_str").isNotNull()).count() == 0


def test_fetch_conversation_zero_match_keeps_extended_schema(spark, tmp_path):
    # ADVICE r2: the zero-match path must carry the warehouse's actual
    # column set (extras included), not a hardcoded core six
    _, wh = _ext_warehouse(spark, tmp_path)
    out = scan.fetch_conversation(spark, wh, "conv-does-not-exist")
    assert len(out) == 0
    assert list(out.columns) == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "flagged", "model", "score", "tokens_out",
    ]


def test_spark_xxhash64_parity(spark):
    """The Python partition router must match Spark's xxhash64 bit-for-bit
    — it is how point lookups compute their partition dirs."""
    from vcf2df_spark.sparkhash import pkey_for, spark_xxhash64

    rows = [("", 0), ("conv-00000042", 3), ("héllo wörld ☃", 12345),
            ("x" * 100, 7), ("abcdefgh", 0), ("abcd", 1), ("a" * 33, 9)]
    got = spark.createDataFrame(rows, "c string, s int").select(
        F.xxhash64("c", "s").alias("h"),
        F.pmod(F.xxhash64("c", "s"), F.lit(16)).cast("int").alias("p"),
    ).collect()
    for (c, s), r in zip(rows, got):
        assert spark_xxhash64(c, s) == r.h
        assert pkey_for(c, s, 16) == r.p


def _job_warehouse(spark, path, src, num_partitions=8, chunk_rows=256):
    """Job-shaped warehouse: hive partition_id dirs + manifests with the
    hash-routing metadata (what jobs/encode.py writes)."""
    from vcf2df_spark import manifest

    blocks = encode_transcripts(
        spark.createDataFrame(src), num_partitions=num_partitions,
        chunk_rows=chunk_rows,
    ).cache()
    blocks.write.partitionBy("partition_id").parquet(f"{path}/blocks")
    manifest.build_manifests(
        blocks, "t", "src", num_partitions=num_partitions
    ).write.parquet(f"{path}/manifests")
    blocks.unpersist()
    return path


def test_fetch_conversation_hash_routed_partition_pruning(spark, tmp_path):
    """Job-shaped warehouse (hive dirs + manifests): the lookup COMPUTES
    its partition from the manifests' routing metadata (num_partitions +
    each partition's turn range) — one dir per split that the partition's
    turn range allows — and launches no Spark job."""
    from vcf2df_spark import manifest

    src = fixtures.transcripts_small(n_convs=400)
    wh = _job_warehouse(spark, str(tmp_path / "mwh"), src)

    target = "conv-00000123"
    pids = scan.Router(wh).pids([target])
    # fixture convs are < 256 turns -> exactly one split -> one partition
    assert pids is not None and len(pids) == 1
    # the sanity probe sees a job when one runs
    try:
        no_spark_jobs(spark, lambda: spark.range(3).count())
        raised = False
    except AssertionError:
        raised = True
    assert raised
    got = no_spark_jobs(
        spark, lambda: scan.fetch_conversation(spark, wh, target)
    )
    want = src[src.conv_id == target].sort_values("turn_idx")
    assert len(got) == len(want) > 0
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()
    # manifests without routing metadata fall back to conv ranges (all 8
    # under hash layout — conservative, never wrong)
    blocks = spark.read.parquet(f"{wh}/blocks")
    manifest.build_manifests(blocks, "t2", "src").write.mode("overwrite").parquet(
        f"{wh}/manifests"
    )
    pids_range = scan.Router(wh).pids([target])
    assert pids_range == list(range(8))
    # warehouses without manifests (bench/test layout) degrade gracefully
    assert scan.Router(str(tmp_path / "nope")).pids([target]) is None


def test_split_of_truncates_like_the_encoder(spark):
    """split_of must match the encoder's (turn_idx / 256).cast("int"),
    which truncates toward zero — Python's // floors."""
    from vcf2df_spark.sparkhash import split_of

    turns = [-100000, -600, -513, -512, -511, -300, -257, -256, -255, -10,
             -1, 0, 1, 255, 256, 511, 512, 100000]
    got = spark.createDataFrame([(t,) for t in turns], "t int").select(
        (F.col("t") / F.lit(256)).cast("int").alias("s")
    ).collect()
    assert [split_of(t) for t in turns] == [r.s for r in got]


MEGA = "conv-00000000"  # transcripts_skew puts the long conversation first


@pytest.fixture(scope="module")
def mega_wh(spark, tmp_path_factory):
    """16-partition job-shaped warehouse whose first conversation runs
    1,500 turns (six 256-turn splits); every other one is < 256."""
    src = fixtures.transcripts_skew(n_convs=300, mega_len=1500)
    wh = _job_warehouse(
        spark, str(tmp_path_factory.mktemp("mega") / "wh"), src,
        num_partitions=16,
    )
    # ground truth: the partition Spark's partitioner gave each row
    from vcf2df_spark.encode import with_partition_key

    keyed = with_partition_key(
        spark.createDataFrame(src[["conv_id", "turn_idx"]]), 16
    ).toPandas()
    return src, wh, keyed


def _write_manifests(wh, table):
    import os
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(f"{wh}/manifests")
    os.makedirs(f"{wh}/manifests")
    pq.write_table(table, f"{wh}/manifests/part-0.parquet")


def test_router_prunes_splits_by_partition_turn_range(spark, mega_wh):
    """A small conversation in a warehouse holding a 1,500-turn one routes
    only to the partitions whose own turn range allows each split; every
    split of the mega conversation still routes and fetches exactly."""
    from vcf2df_spark.sparkhash import pkey_for, split_of

    src, wh, keyed = mega_wh
    keyed = keyed.assign(split=[split_of(t) for t in keyed["turn_idx"]])
    span = keyed.groupby("_pkey")["split"].agg(["min", "max"])
    n_splits = split_of(int(src["turn_idx"].max())) + 1
    assert n_splits == 6

    router = scan.Router(wh)
    pruned_any = False
    for cid in sorted(set(src["conv_id"]) - {MEGA})[:40]:
        cands = {(pkey_for(cid, s, 16), s) for s in range(n_splits)}
        want = sorted({
            p for p, s in cands
            if p not in span.index
            or span.loc[p, "min"] <= s <= span.loc[p, "max"]
        })
        got = router.pids([cid])
        assert got == want, cid
        # the conversation's own partition is always in the route
        own = set(keyed.loc[keyed.conv_id == cid, "_pkey"])
        assert own <= set(got)
        pruned_any |= len(got) < len({p for p, _ in cands})
    assert pruned_any

    # the mega conversation: every split's partition routes, all rows fetch
    own = set(keyed.loc[keyed.conv_id == MEGA, "_pkey"])
    assert len(own) > 1 and own <= set(router.pids([MEGA]))
    got = scan.fetch_conversation(spark, wh, MEGA)
    want = src[src.conv_id == MEGA].sort_values("turn_idx")
    assert len(got) == len(want) == 1500
    assert list(got["turn_idx"]) == list(want["turn_idx"])
    assert list(got["text"]) == list(want["text"])


def test_router_conservative_on_legacy_and_missing_manifests(
    spark, mega_wh, tmp_path
):
    """Legacy manifests (no turn_min) route exactly as before the turn
    range existed — every split 0..split(turn_max); a partition with no
    committed manifest row, or null turn stats, is never pruned."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from vcf2df_spark.sparkhash import pkey_for, split_of

    import shutil

    src, wh, _keyed = mega_wh
    wh = shutil.copytree(wh, str(tmp_path / "wh"))
    m = pads.dataset(f"{wh}/manifests", format="parquet").to_table()
    n_splits = split_of(int(src["turn_idx"].max())) + 1
    small = sorted(set(src["conv_id"]) - {MEGA})[:40]

    def unpruned(cid):
        return sorted({pkey_for(cid, s, 16) for s in range(n_splits)})

    # legacy: the manifests predate turn_min
    _write_manifests(wh, m.drop_columns(["turn_min"]))
    router = scan.Router(wh)
    for cid in small:
        assert router.pids([cid]) == unpruned(cid)
    got = scan.fetch_conversation(spark, wh, small[0])
    assert len(got) == int((src.conv_id == small[0]).sum())

    # a small conversation with a pruned-away candidate partition that
    # holds only split 0 (so dropping its row keeps the global range)
    _write_manifests(wh, m)
    router = scan.Router(wh)
    low = set(m.filter(pc.less(m["turn_max"], 256))["partition_id"].to_pylist())
    cid, victim = next(
        (c, p) for c in small
        for p in sorted(set(unpruned(c)) - set(router.pids([c])))
        if p in low
    )
    # that partition's manifest row missing -> kept
    _write_manifests(
        wh, m.filter(pc.not_equal(m["partition_id"], pa.scalar(victim, pa.int32())))
    )
    assert victim in scan.Router(wh).pids([cid])
    # null turn stats on that row -> kept
    is_victim = pc.equal(m["partition_id"], pa.scalar(victim, pa.int32()))
    idx = m.schema.get_field_index("turn_min")
    _write_manifests(wh, m.set_column(
        idx, "turn_min",
        pc.if_else(is_victim, pa.scalar(None, pa.int64()), m["turn_min"]),
    ))
    assert victim in scan.Router(wh).pids([cid])


def test_negative_turns_route_through_lookup_sql_and_rewrite(spark, tmp_path):
    """Regression: turns <= -256 hash to splits -1, -2, ...; a router
    walking only splits 0.. lost them silently from the lookup, the point
    SQL and the routed rewrite."""
    from vcf2df_spark.datasource import read_warehouse, scan_warehouse
    from vcf2df_spark.encode import normalize_input
    from vcf2df_spark.rewrite import routed_rewrite

    base = fixtures.transcripts_small(n_convs=60)
    neg = base[base.conv_id == base.conv_id.iloc[0]].head(6).copy()
    neg["conv_id"] = "conv-neg"
    neg["turn_idx"] = pd.array([-600, -300, -10, 0, 1, 2], dtype="int32")
    src = pd.concat([base, neg], ignore_index=True)
    wh = _job_warehouse(spark, str(tmp_path / "nwh"), src)

    def turns_everywhere():
        lookup = list(scan.fetch_conversation(spark, wh, "conv-neg")["turn_idx"])
        sql = sorted(r.turn_idx for r in scan_warehouse(
            spark, wh, "conv_id = 'conv-neg'").select("turn_idx").collect())
        full = sorted(r.turn_idx for r in read_warehouse(spark, wh).filter(
            F.col("conv_id") == "conv-neg").select("turn_idx").collect())
        assert lookup == sql == full
        return lookup

    assert turns_everywhere() == [-600, -300, -10, 0, 1, 2]

    n_total = read_warehouse(spark, wh).count()
    rep = neg.iloc[:3].copy()
    rep["turn_idx"] = pd.array([-700, -5, 3], dtype="int32")
    out = routed_rewrite(spark, wh, ["conv-neg"], "up", "test",
                         replacement=normalize_input(spark.createDataFrame(rep)))
    assert out["status"] == "ok", out
    assert out["rows_deleted"] == 6 and out["rows_inserted"] == 3
    assert turns_everywhere() == [-700, -5, 3]

    out = routed_rewrite(spark, wh, ["conv-neg"], "del", "test")
    assert out["status"] == "ok" and out["rows_deleted"] == 3
    assert turns_everywhere() == []
    assert read_warehouse(spark, wh).count() == n_total - 6


def test_point_sql_in_list_routes_from_one_manifests_read(
    spark, mega_wh, monkeypatch
):
    """A pushed conv_id IN list of K ids routes through ONE Router (one
    manifests read), and plans only the routed partitions' files."""
    from pyspark.sql.datasource import In

    from vcf2df_spark.datasource import PrunedTranscriptDataSource

    src, wh, _keyed = mega_wh
    ids = sorted(set(src["conv_id"]) - {MEGA})[:5]
    routers: list = []
    real_init = scan.Router.__init__

    def counting_init(self, warehouse):
        routers.append(warehouse)
        real_init(self, warehouse)

    ds = PrunedTranscriptDataSource({"path": wh})
    reader = ds.reader(ds.schema())
    reader.pushFilters([In(("conv_id",), tuple(ids))])
    monkeypatch.setattr(scan.Router, "__init__", counting_init)
    parts = reader.partitions()
    assert len(routers) == 1
    assert {p.hive["partition_id"] for p in parts} == set(
        scan.Router(wh).pids(ids)
    )
