"""Predicate-driven scan over the encoded warehouse: zone-map chunk pruning
plus column-pruned decode.

Each block row carries its chunk's min/max (conv_id as strings; turn_idx and
ts as int64 — ts in unix micros) — the engine's analogue of Parquet
row-group statistics, made queryable because blocks are themselves a table.
A scan with predicates first selects the qualifying (partition_id,
chunk_idx) pairs from the tiny stats projection, semi-joins the blocks table
down to those chunks and the requested columns, decodes, and applies the
exact residual filter. Chunks that can't match never leave the scan —
at 100 TB that is the difference between touching terabytes and megabytes.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blocks import TRANSCRIPT_COLUMNS
from .decode import decode_blocks, group_keys


def _overlap_str(lo: str | None, hi: str | None):
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("stat_max_str") >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col("stat_min_str") <= F.lit(hi))
    return cond


def _overlap_num(lo: int | None, hi: int | None):
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("stat_max_num") >= F.lit(int(lo)))
    if hi is not None:
        cond = cond & (F.col("stat_min_num") <= F.lit(int(hi)))
    return cond


def _to_micros(v) -> int:
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    return int(v)


def _range_spec(col: str, lo, hi):
    """Overlap condition for an arbitrary column, dispatched on the Python
    type of the bounds: str -> string stats; float -> the order-preserving
    f64 key transform (zonemap.py, matching what encode recorded); bool ->
    0/1 ints; datetime -> unix micros; int -> raw int64 stats."""
    from . import zonemap

    probe = lo if lo is not None else hi
    if isinstance(probe, str):
        return _overlap_str(lo, hi)
    if isinstance(probe, bool):
        return _overlap_num(
            None if lo is None else int(lo), None if hi is None else int(hi)
        )
    if isinstance(probe, float):
        # lo/hi mapped separately: Spark-equal -0.0/+0.0 expand to cover
        # both keys (zonemap.f64_lo_key docstring)
        return _overlap_num(
            None if lo is None else zonemap.f64_lo_key(lo),
            None if hi is None else zonemap.f64_hi_key(hi),
        )
    if isinstance(probe, _dt.datetime):
        return _overlap_num(
            None if lo is None else _to_micros(lo),
            None if hi is None else _to_micros(hi),
        )
    return _overlap_num(lo, hi)


def qualifying_chunks(
    blocks: DataFrame,
    conv_id_range: tuple[str | None, str | None] | None = None,
    turn_idx_range: tuple[int | None, int | None] | None = None,
    ts_range: tuple | None = None,
    col_ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Chunk keys whose zone maps overlap every given predicate range.

    ``col_ranges`` prunes on ANY column with recorded stats — including
    dynamic extras (f64 via the total-order key, bool as 0/1, int/ts as
    int64, short strings lexically)."""
    ck = group_keys(blocks)  # includes epoch for streaming warehouses
    qual = blocks.select(*ck).distinct()
    specs = []
    if conv_id_range is not None:
        specs.append(("conv_id", _overlap_str(*conv_id_range)))
    if turn_idx_range is not None:
        specs.append(("turn_idx", _overlap_num(*turn_idx_range)))
    if ts_range is not None:
        lo, hi = ts_range
        specs.append(
            ("ts", _overlap_num(
                None if lo is None else _to_micros(lo),
                None if hi is None else _to_micros(hi),
            ))
        )
    for col, (lo, hi) in (col_ranges or {}).items():
        specs.append((col, _range_spec(col, lo, hi)))
    for col, cond in specs:
        keys = blocks.filter(F.col("column") == col).filter(cond).select(*ck)
        qual = qual.join(keys, ck, "left_semi")
    return qual


def blocks_dir(root: str, pid: int, shard_dirs: int | None) -> str:
    """The dir partition ``pid`` is written to under a blocks ``root``:
    ``shard=pid % shard_dirs/partition_id=pid`` in the two-level layout,
    ``partition_id=pid`` otherwise."""
    return (f"{root}/shard={pid % shard_dirs}/partition_id={pid}"
            if shard_dirs else f"{root}/partition_id={pid}")


class Router:
    """Partition dirs that can hold given conversations, from ONE
    driver-side manifests read (one tiny row per partition — O(partitions)
    metadata, never blocks). The lookup, the DataSource point-SQL planner
    and the routed rewrite all route through it.

    The encode partitioner is a deterministic hash
    (``pmod(xxhash64(conv_id, split_of(turn_idx)), N)``), so with the
    modulus on record the router COMPUTES a conversation's partitions
    (sparkhash.pkey_for) for each split of the warehouse's turn range, and
    keeps one directory per split that the partition's turn range allows:
    partition p can hold split s only if ``split_of(turn_min) <= s <=
    split_of(turn_max)`` over p's committed rows. A small conversation in
    a warehouse with one long agent run thus opens ~1 dir, not one per
    split of the longest conversation. Pruning is conservative: a
    partition with no committed row or null turn stats is kept, and
    legacy manifests (no turn_min) keep every split from 0 up.

    Conv min/max ranges can't prune a hash layout (every partition spans
    the keyspace), but serve as the fallback for manifests written without
    routing metadata and for future range layouts.
    """

    def __init__(self, warehouse: str):
        from .manifest import read_manifests

        self.root = f"{warehouse}/blocks"
        self.num_partitions = None  # the one modulus over ALL rows, if one
        self.shard_dirs = None
        self.has_epoch = False
        self._rows: list[dict] = []  # committed rows; [] = cannot route
        t = read_manifests(warehouse, (
            "partition_id", "status", "conv_min", "conv_max",
            "num_partitions", "turn_min", "turn_max", "shard_dirs", "epoch",
        ))
        if t is None:
            return
        names = t.column_names
        rows = t.to_pylist()
        self.has_epoch = "epoch" in names
        mods = {r.get("num_partitions") for r in rows}
        if len(mods) == 1:
            self.num_partitions = mods.pop()
        shard_vals = {r.get("shard_dirs") for r in rows} - {None}
        self.shard_dirs = shard_vals.pop() if len(shard_vals) == 1 else None
        if "conv_min" in names and "conv_max" in names:
            self._rows = [r for r in rows if r.get("status") == "committed"]

    @property
    def routable(self) -> bool:
        return bool(self._rows)

    def pids(self, conv_ids, write_turns: tuple[int, int] | None = None):
        """Sorted partition ids that can hold any row of ``conv_ids``, or
        None when the manifests cannot route (none, legacy columns, no
        committed row). ``write_turns`` is the (min, max) turn_idx of rows
        about to be WRITTEN for these ids (a rewrite's replacement): their
        splits route unpruned, as no manifest records them yet."""
        from .sparkhash import pkey_for, split_of

        rows = self._rows
        if not rows:
            return None
        mods = {r.get("num_partitions") for r in rows}
        out: set[int] = set()
        if None not in mods and all(r.get("turn_max") is not None
                                    for r in rows):
            # per-partition split span; None = unknown, always kept
            span: dict[int, tuple[int, int] | None] = {}
            for r in rows:
                p, tmin = r["partition_id"], r.get("turn_min")
                if tmin is None or (p in span and span[p] is None):
                    span[p] = None
                    continue
                lo, hi = split_of(tmin), split_of(r["turn_max"])
                if p in span:
                    lo, hi = min(lo, span[p][0]), max(hi, span[p][1])
                span[p] = (lo, hi)
            mins = [split_of(r["turn_min"]) for r in rows
                    if r.get("turn_min") is not None]
            lo = min(mins + ([0] if len(mins) < len(rows) else []))
            hi = split_of(max(r["turn_max"] for r in rows))
            for n in mods:
                for cid in conv_ids:
                    for s in range(lo, hi + 1):
                        p = pkey_for(cid, s, n)
                        sp = span.get(p)
                        if p not in span or sp is None or sp[0] <= s <= sp[1]:
                            out.add(p)
        else:
            # range fallback: keep rows whose conv range covers ANY key (or
            # whose range is unknown)
            out = {
                r["partition_id"]
                for r in rows
                if r["conv_min"] is None
                or any(r["conv_min"] <= c <= r["conv_max"] for c in conv_ids)
            }
        if write_turns is not None:
            lo, hi = (split_of(t) for t in write_turns)
            out.update(
                pkey_for(cid, s, n)
                for n in mods - {None} for cid in conv_ids
                for s in range(lo, hi + 1)
            )
        return sorted(out)

    def open(self, pids) -> list[tuple[int, str, object]]:
        """(pid, dir, pyarrow dataset) for each of ``pids`` whose dir holds
        files — the sharded dir first when the manifests record a shard
        layout, then the single-level one; [] for ``pids`` None. Opening
        the routed dirs directly skips the whole-tree discovery, which at
        ~400k partition dirs is the dominant planning cost. pyarrow.dataset
        handles local/S3/HDFS paths alike."""
        import pyarrow.dataset as pads

        out = []
        for pid in pids or ():
            cands = [blocks_dir(self.root, pid, None)]
            if self.shard_dirs:
                cands.insert(0, blocks_dir(self.root, pid, self.shard_dirs))
            for d in cands:
                try:
                    dset = pads.dataset(d, format="parquet")
                except (FileNotFoundError, OSError):
                    continue
                if dset.files:
                    out.append((pid, d, dset))
                    break
        return out

    def sources(self, opened) -> list[tuple]:
        """(dataset, fixed hive keys) pairs to read: the ``opened`` routed
        dirs, or — when none is on disk (flat/epoch layouts, no routing
        metadata, a routed miss) — one hive-discovered dataset over the
        whole blocks tree."""
        import pyarrow.dataset as pads

        if opened:
            return [(dset, {"partition_id": pid}) for pid, _d, dset in opened]
        return [(pads.dataset(self.root, format="parquet",
                              partitioning="hive"), {})]


def _decode_str_row(r, n, lo=0, hi=None):
    """A string block row's values (rows [lo, hi) via random access)."""
    import json

    from . import arrow_ops

    m = json.loads(r["meta"])
    payload, aux = bytes(r["payload"] or b""), bytes(r["aux"] or b"")
    if hi is None:
        return arrow_ops.decode_string_column(r["codec"], payload, aux, m, n)
    return arrow_ops.decode_string_rows(r["codec"], payload, aux, m, n, lo, hi)


def _key_of(r, fixed):
    return (
        fixed.get("partition_id", r.get("partition_id")),
        r["chunk_idx"],
        r.get("epoch"),
    )


def locate(sources, conv_ids, pids=None) -> list[tuple]:
    """(source index, chunk key, lo, hi, conv_id values) for every chunk
    span holding one of the sorted ``conv_ids``.

    Candidate chunks come from the conv_id zone maps; only their conv_id
    blocks decode (bytes per conversation, strnum/dict-coded), and a
    bisect finds each id's exact row span. Under hash partitioning every
    chunk's conv range spans the keyspace, so this must stay cheap even
    when zone maps can't prune: payload bytes of the OTHER columns are not
    touched. ``pids`` restricts a whole-tree source to the routed
    partitions."""
    import bisect

    import pyarrow.dataset as pads

    hits: list[tuple[int, tuple, int, int, list[str]]] = []
    for si, (dset, fixed) in enumerate(sources):
        names = dset.schema.names
        extra_keys = [c for c in ("partition_id", "epoch") if c in names]
        cand_filter = (
            (pads.field("column") == "conv_id")
            & (pads.field("stat_min_str") <= conv_ids[-1])
            & (pads.field("stat_max_str") >= conv_ids[0])
        )
        if not fixed and pids is not None and "partition_id" in names:
            cand_filter = cand_filter & pads.field("partition_id").isin(pids)
        cand = dset.to_table(
            columns=["chunk_idx", "codec", "n_rows", "payload", "aux", "meta"]
            + extra_keys,
            filter=cand_filter,
        ).to_pylist()
        for r in cand:
            cids = _decode_str_row(r, int(r["n_rows"])).to_pylist()
            for cid in conv_ids:
                lo = bisect.bisect_left(cids, cid)  # chunk sorted by conv_id
                hi = bisect.bisect_right(cids, cid)
                if hi > lo:
                    hits.append((si, _key_of(r, fixed), lo, hi, cids[lo:hi]))
    return hits


def fetch_conversation(spark: SparkSession, warehouse: str, conv_id: str):
    """Point lookup: one conversation, decoding the minimum possible —
    WITHOUT launching a Spark job.

    Interactive lookups shouldn't pay a cluster round-trip: this is pure
    driver-side (client-side) metadata navigation, the same way a key-value
    get against a columnar store works. Three bounded steps: (1) the
    manifests table (one row per partition) routes to the partition dirs
    that can hold the key (:class:`Router`); (2) those directories' chunk
    zone maps (parquet-filtered stats rows) prune to the ~1 candidate
    chunk; (3) the candidate chunk's key columns decode to locate the row
    span (:func:`locate`) and ``text`` decodes via random access (only the
    FSST/raw byte range covering those rows). Returns a pandas DataFrame
    ordered by turn_idx.

    ``spark`` is unused (kept for call-site compatibility with the scan
    DataFrame APIs and so the CLI can share one entry path).
    """
    import json

    import pandas as pd
    import pyarrow.dataset as pads

    from . import codecs
    from .decode import _column_order, block_ctype

    # routing first: with hash metadata the lookup opens EXACTLY the routed
    # partition dirs; without it, one hive-discovered dataset over the tree
    router = Router(warehouse)
    pids = router.pids([conv_id])
    sources = router.sources(router.open(pids))

    # phase A — locate the chunks and row spans holding the conversation
    hits = locate(sources, [conv_id], pids)

    if not hits:
        # empty-result schema from the warehouse's own metadata, so a
        # zero-match lookup has the SAME columns (extras included) as a hit
        # — never a hardcoded core list or whichever chunk iterated last
        from .datasource import infer_ctypes

        return pd.DataFrame(columns=_column_order(infer_ctypes(router.root)))

    # phase B — fetch: full block rows for ONLY the chunks that truly
    # contain the conversation (typically one)
    by_chunk: dict[tuple, dict[str, dict]] = {}
    for si, (dset, fixed) in enumerate(sources):
        keys = [key for s, key, _, _, _ in hits if s == si]
        if not keys:
            continue
        names = dset.schema.names
        expr = None
        for key in keys:
            e = pads.field("chunk_idx") == key[1]
            if "partition_id" in names:
                e = e & (pads.field("partition_id") == key[0])
            if "epoch" in names and key[2] is not None:
                e = e & (pads.field("epoch") == key[2])
            expr = e if expr is None else expr | e
        for r in dset.to_table(filter=expr).to_pylist():
            if r["column"].startswith("__"):
                continue
            by_chunk.setdefault(_key_of(r, fixed), {})[r["column"]] = r

    frames = []
    col_order: list[str] = []
    for _si, key, lo, hi, ids in hits:
        cols = by_chunk[key]
        n = int(cols["conv_id"]["n_rows"])
        col_order = _column_order(cols)
        out = {"conv_id": ids}
        for col in col_order:  # dynamic schema: extras included
            if col == "conv_id":
                continue
            r = cols[col]
            meta = json.loads(r["meta"])
            ctype = block_ctype(col, meta)
            if ctype == "str":
                out[col] = _decode_str_row(r, n, lo, hi).to_pylist()
                continue
            vals = codecs.decode(
                r["codec"], bytes(r["payload"] or b""), bytes(r["aux"] or b""),
                meta, n,
            )[lo:hi]
            if ctype == "ts":
                out[col] = pd.to_datetime(vals.astype("int64"), unit="us")
            elif ctype == "i32":
                out[col] = vals.astype("int32")
            elif ctype == "bool":
                out[col] = vals.astype(bool)
            else:  # i64 / f64 keep their numpy dtype
                out[col] = vals
        frames.append(pd.DataFrame(out))
    return (
        pd.concat(frames, ignore_index=True)
        .sort_values("turn_idx")
        .reset_index(drop=True)[col_order]
    )


def register_transcript_view(spark: SparkSession, warehouse: str,
                             name: str = "transcripts",
                             columns: list[str] | None = None) -> None:
    """Expose the encoded warehouse as a SQL view: ``SELECT ... FROM name``.

    Backed by the ``transcripts`` Python DataSource (datasource.py): one
    scan task per blocks file decodes its co-located chunk groups in place,
    so the view costs NO shuffle — unlike the groupBy+applyInArrow decode,
    which must exchange every encoded payload. Combine with
    :func:`vcf2df_spark.datasource.scan_warehouse` for zone-map-pruned
    predicate access. This is the switch-over surface for users of the
    reference: their SQL keeps working, storage is ours.

    ``columns`` registers a NARROW view: Spark does not push Catalyst
    column pruning into Python data sources, so a full view decodes every
    column (text is ~80% of warehouse bytes) even for ``SELECT role``.
    Pass the columns a query actually touches — or let
    :func:`referenced_columns` derive them from the SQL text, as
    ``jobs/query.py`` does by default.
    """
    from .datasource import read_warehouse

    read_warehouse(spark, warehouse, columns=columns).createOrReplaceTempView(
        name
    )


def pushable_predicates(sql: str, view: str, available: list[str]) -> list[str]:
    """Top-level WHERE conjuncts safe to bake into a pruned relation.

    The SQL view format deliberately has no pushdown (the Spark 4.1
    readInfo staleness hazard), so ``jobs/query.py`` instead extracts the
    query's own simple conjuncts and backs the view with
    ``scan_warehouse(predicate=these)`` — the baked-filter pattern that IS
    safe. Baking a top-level AND conjunct of the query's WHERE never
    changes the result (WHERE runs before GROUP BY, and Spark re-applies
    the full predicate exactly); pruning/routing is pure gain — a
    ``conv_id = 'x'`` SQL query plans only the routed partition dirs.

    Ultra-conservative grammar, [] on any doubt: the view must appear
    exactly once with no JOIN; the WHERE clause must be AND-conjuncts of
    ``bare_ident OP literal`` (OP in = < > <= >=, or IN over literals;
    literals are numbers or simple quoted strings); any OR/NOT/BETWEEN/
    subquery/function/qualified name bails out entirely.
    """
    import re

    if "--" in sql or "/*" in sql:
        return []  # comments could disguise non-applied text as a conjunct
    # exactly ONE SELECT: with set operations (UNION/...), derived tables
    # in FROM, or scalar subqueries, a WHERE found by regex may belong to
    # a different scope (or to renamed columns) — baking it onto the base
    # relation would silently drop rows
    if len(re.findall(r"(?i)\bselect\b", sql)) != 1:
        return []
    if re.search(r"(?i)\b(union|intersect|except)\b", sql):
        return []
    if len(re.findall(rf"(?i)(?<!\w){re.escape(view)}(?!\w)", sql)) != 1:
        return []
    if re.search(r"(?i)\bjoin\b", sql):
        return []
    m = re.search(
        r"(?is)\bwhere\b(.*?)(?:\bgroup\s+by\b|\border\s+by\b|\blimit\b"
        r"|\bhaving\b|\bwindow\b|$)",
        sql,
    )
    if not m:
        return []
    clause = m.group(1).strip()
    if re.search(r"(?i)\bor\b|\bnot\b|\bbetween\b|\bexists\b|\(\s*select", clause):
        return []
    if clause.count("'") % 2:  # imbalanced quotes: do not attempt to parse
        return []
    lit = r"(?:-?\d+(?:\.\d+)?|'[^']*')"
    simple = rf"^\s*(\w+)\s*(=|<=|>=|<|>)\s*{lit}\s*$"
    inlist = rf"^\s*(\w+)\s+(?i:in)\s*\(\s*{lit}(?:\s*,\s*{lit})*\s*\)\s*$"
    cols = {c.lower() for c in available}
    out: list[str] = []
    for conj in re.split(r"(?i)\band\b", clause):
        m2 = re.match(simple, conj) or re.match(inlist, conj)
        if m2 and m2.group(1).lower() in cols:
            out.append(conj.strip())  # a true top-level conjunct: bakeable
        elif "'" in conj:
            # a quote in an unmatched fragment means the AND split may have
            # cut through a string literal — abandon the whole extraction
            return []
        # else: a complex conjunct (function call, cast, ...) — skip it;
        # the remaining matched conjuncts are still sound to bake
    return out


def referenced_columns(sql: str, available: list[str]) -> list[str] | None:
    """Conservative projection inference for the SQL surface.

    Spark cannot push column pruning through a Python data source, so the
    decode set must be fixed when the view is registered. A column can only
    be used by SQL that NAMES it, so matching each available column name as
    a whole word in the query text can over-include (a name inside a string
    literal — costs decode work only) but never under-include. ``count(*)``
    is neutralized first; any remaining ``*`` (``SELECT *``, ``t.*``, or a
    multiplication — over-inclusion again) keeps every column (None).
    A query referencing no columns at all (pure ``count(*)``) still needs
    one column for row counts: the cheapest one (turn_idx, FOR-DELTA ints)
    is used.
    """
    import re

    if re.search(r"(?i)\bnatural\b", sql):
        # NATURAL JOIN uses shared columns WITHOUT naming them — the only
        # construct that breaks the "SQL must name a column to use it"
        # premise; keep the full schema so the implicit key set is intact
        return None
    s = re.sub(r"count\s*\(\s*\*\s*\)", " count_rows ", sql, flags=re.I)
    if "*" in s:
        return None
    hit = [
        c for c in available
        if re.search(rf"(?<!\w){re.escape(c)}(?!\w)", s, re.I)
    ]
    if set(hit) == set(available):
        return None
    if not hit:
        hit = ["turn_idx"] if "turn_idx" in available else [sorted(available)[0]]
    return hit


def scan_transcripts(
    spark: SparkSession,
    warehouse: str,
    columns: list[str] | None = None,
    conv_id_range: tuple[str | None, str | None] | None = None,
    turn_idx_range: tuple[int | None, int | None] | None = None,
    ts_range: tuple | None = None,
    col_ranges: dict[str, tuple] | None = None,
) -> DataFrame:
    """Decode only the chunks/columns a predicate can touch, then filter
    exactly. Residual filters need their predicate columns decoded too.
    ``col_ranges``: {column: (lo, hi)} range predicates on any stats-bearing
    column, dynamic extras included (f64/bool/int/ts/short strings)."""
    blocks = spark.read.parquet(f"{warehouse}/blocks")
    qual = qualifying_chunks(
        blocks, conv_id_range, turn_idx_range, ts_range, col_ranges
    )
    pruned = blocks.join(F.broadcast(qual), group_keys(blocks), "left_semi")

    if columns is None:
        decoded = decode_blocks(pruned)  # all columns, extras included
    else:
        need = set(columns)
        if conv_id_range is not None:
            need.add("conv_id")
        if turn_idx_range is not None:
            need.add("turn_idx")
        if ts_range is not None:
            need.add("ts")
        need.update(col_ranges or {})
        decoded = decode_blocks(pruned, columns=sorted(need))

    if conv_id_range is not None:
        lo, hi = conv_id_range
        if lo is not None:
            decoded = decoded.filter(F.col("conv_id") >= lo)
        if hi is not None:
            decoded = decoded.filter(F.col("conv_id") <= hi)
    if turn_idx_range is not None:
        lo, hi = turn_idx_range
        if lo is not None:
            decoded = decoded.filter(F.col("turn_idx") >= lo)
        if hi is not None:
            decoded = decoded.filter(F.col("turn_idx") <= hi)
    if ts_range is not None:
        lo, hi = ts_range
        if lo is not None:
            decoded = decoded.filter(F.unix_micros("ts") >= _to_micros(lo))
        if hi is not None:
            decoded = decoded.filter(F.unix_micros("ts") <= _to_micros(hi))
    for col, (lo, hi) in (col_ranges or {}).items():
        if lo is not None:
            decoded = decoded.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            decoded = decoded.filter(F.col(col) <= F.lit(hi))
    if columns is not None:
        from .decode import _column_order

        decoded = decoded.select(
            *[c for c in _column_order(set(columns)) if c in decoded.columns]
        )
    return decoded
