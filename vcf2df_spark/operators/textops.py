"""Training-data pipeline operators over the documents/embeddings tables:
deduplication (exact, minhash-LSH, n-gram jaccard, simhash), similarity
search (brute-force cosine top-k, sign-bucketed ANN), and text analysis
(token counting, quality scoring, language-id heuristic, fingerprinting).

Cross-system determinism: every hash is ``md5`` based —
``conv(substr(md5(x),1,14),16,10)`` in Spark equals
``cast('0x'||substr(md5(x),1,14) as bigint)`` in DuckDB (verified), so the
oracles reproduce signatures exactly. All word-level work uses Spark's
higher-order array functions (transform/aggregate/filter) — JVM-side, no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_P = 1_000_000_007
# minhash signature: parameterized (perms, bands, rows-per-band) —
# production-sized, not a toy k=4. (a, b) affine params are a fixed
# deterministic sequence of odd multipliers.
_MINHASH_K = 16
_BAND_ROWS = 4
_N_BANDS = _MINHASH_K // _BAND_ROWS
# hot-band cap: a band bucket shared by more than this many docs (boilerplate
# shingle sets, empty docs) is skipped as a candidate source — on a skewed
# corpus one hot bucket otherwise produces O(bucket^2) candidate pairs.
_BAND_CAP = 64
_MINHASH_PARAMS = [(2 * i * i + 131 * i + 101, 31 * i + 7)
                   for i in range(_MINHASH_K)]


def _words(col: str = "text") -> Column:
    return F.filter(F.split(F.col(col), " "), lambda w: w != "")


def _word_hash(w: Column) -> Column:
    """Deterministic 56-bit word hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(w), 1, 14), 16, 10).cast("long")


_SQL_WORDS = "list_filter(string_split(text, ' '), w -> w <> '')"
_SQL_HASH = "cast(concat('0x', substr(md5({w}), 1, 14)) as bigint)"


# --- exact dedup (hash-groupBy) ---------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_id"))
    )


# --- minhash signatures (k=4, shared hash) ----------------------------------

def _minhash_cols():
    cols = []
    for i, (a, b) in enumerate(_MINHASH_PARAMS):
        cols.append(
            F.array_min(
                F.transform(
                    _words(),
                    lambda w: (F.lit(a) * (_word_hash(w) % F.lit(2**32)) + F.lit(b))
                    % F.lit(_P),
                )
            ).alias(f"mh{i}")
        )
    return cols


def q_minhash_signature(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", *_minhash_cols())


# --- LSH candidate pairs (band = mh0) ----------------------------------------
# ORACLE DEMO of the single-band join step. The production pipeline is
# q_near_dup_verdicts: multi-band with a hot-band cap, so one degenerate
# bucket cannot produce O(bucket^2) candidate pairs.

def q_lsh_candidate_pairs(spark, sf_dir):
    sigs = q_minhash_signature(spark, sf_dir).select("doc_id", "mh0")
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, (F.col("a.mh0") == F.col("b.mh0"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.mh0").alias("band_hash"),
        )
    )


# --- n-gram (word-set) jaccard over blocked pairs ----------------------------
# ORACLE DEMO, not the production dedup path: blocking by `source` is
# all-pairs within a block (quadratic in block size). At corpus scale use
# q_near_dup_verdicts — banded MinHash equi-joins with a hot-band cap
# generate candidates sub-quadratically; exact jaccard verifies only those.

def q_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.array_distinct(_words()).alias("ws")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(
        F.filter(F.col("a.ws"), lambda w: F.array_contains(F.col("b.ws"), w))
    )
    union = F.size(F.col("a.ws")) + F.size(F.col("b.ws")) - inter
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
    )


# --- simhash (16-bit, over distinct word hashes) ------------------------------
# computed fully in-array with F.aggregate: one partition-local pass, NO
# shuffle (the explode+groupBy formulation shuffled the entire exploded
# corpus back together — a scale-killer the higher-order version avoids)

def q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # project the hash array ONCE: higher-order functions are codegen
    # fallbacks, so CSE does not collapse repeated copies — inlining the
    # expression into all 16 aggregates re-tokenizes and re-hashes 16x
    hashed = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(_words(), lambda w: _word_hash(w))
        ).alias("hs"),
    )

    def bitsum(b: int):
        return F.aggregate(
            F.col("hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    sim = None
    for b in range(16):
        term = F.when(bitsum(b) > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return hashed.select("doc_id", sim.cast("long").alias("simhash16"))


# --- per-document text profile --------------------------------------------------
# merges round-2's token_stats (token counting), bpe_tokens (BPE-ish regex
# tokenizer + utf8 byte ratio, the pandas-UDF surface), quality_score
# (type-token-ratio quality) and shingles (word-trigram counts) into ONE
# per-doc pass — registry curation for the driver's 50-query window. The
# words array is projected once: higher-order fns are codegen fallbacks,
# so CSE would not collapse repeated inlined copies.

def q_token_stats(spark, sf_dir):
    from vcf2df_spark.functions import bpe_token_count, utf8_ratio
    from vcf2df_spark.shipping import ensure_shipped

    ensure_shipped(spark)  # module-level pandas_udfs resolve on workers
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", _words().alias("ws"))
    ws = F.col("ws")
    n_tok = F.size(ws)
    n_dis = F.size(F.array_distinct(ws))
    shingles = F.transform(
        F.slice(ws, 1, F.greatest(n_tok - 2, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.get(ws, i + 1), F.get(ws, i + 2)),
    )
    ttr = n_dis / n_tok
    len_score = F.least(F.lit(1.0), n_tok / F.lit(100.0))
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_actual"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        utf8_ratio("text").alias("bytes_per_char"),
        F.size(shingles).alias("n_shingles"),
        F.size(F.array_distinct(shingles)).alias("n_distinct_shingles"),
        F.round(ttr, 4).alias("ttr"),
        F.round(len_score, 4).alias("len_score"),
        F.round(ttr * len_score, 4).alias("quality"),
    )


# --- language-id heuristic ------------------------------------------------------

_STOPWORDS = ("the", "and", "of", "a", "to", "in", "is")


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    hits = F.size(
        F.filter(_words(), lambda w: F.lower(w).isin(*_STOPWORDS))
    )
    n_tok = F.size(_words())
    pred = F.when(hits * 20 >= n_tok, F.lit("en")).otherwise(F.lit("other"))
    return docs.select(
        "doc_id", "lang",
        hits.alias("stopword_hits"),
        pred.alias("lang_pred"),
    )


# --- document fingerprint (rolling polynomial hash) ------------------------------

def q_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    hashes = F.transform(_words(), lambda w: _word_hash(w) % F.lit(1_000_000))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(_P),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# --- similarity: brute-force cosine top-k ------------------------------------------

def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qvec))
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    sim = F.round(dot / (norm(F.col("embedding")) * norm(F.col("qe"))), 3)
    return (
        joined.select("vec_id", sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# --- similarity: sign-bucket ANN (LSH-flavored scale path) --------------------------

def q_ann_buckets(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    bucket = (
        F.when(e[0] > 0, 4).otherwise(0)
        + F.when(e[1] > 0, 2).otherwise(0)
        + F.when(e[2] > 0, 1).otherwise(0)
    )
    return (
        emb.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


# --- embedding-cosine near-duplicates (ANN-bucketed candidates) ----------------------
# candidate generation reuses the sign-bucket coarse quantizer (ann_buckets):
# the self-join is a hash join on bucket, not all-pairs within a label — at
# scale a big label is quadratic, a sign bucket is the standard LSH cell
# whose population is controlled by adding bits.

def q_embedding_near_dup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    bucket = (
        F.when(e[0] > 0, 4).otherwise(0)
        + F.when(e[1] > 0, 2).otherwise(0)
        + F.when(e[2] > 0, 1).otherwise(0)
    )
    emb = emb.select("vec_id", bucket.alias("bucket"), "embedding")
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    dot = F.aggregate(
        F.zip_with("a.embedding", "b.embedding",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0), lambda acc, v: acc + v)
    )
    sim = F.round(dot / (norm(F.col("a.embedding")) * norm(F.col("b.embedding"))), 3)
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.9)
    )


# --- quality filter (the kept-documents pipeline verdict) ----------------------------

def q_quality_filter(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(_words())
    ttr = F.size(F.array_distinct(_words())) / n_tok
    keep = (n_tok >= 20) & (ttr >= 0.3)
    return docs.filter(keep).select("doc_id", "lang", "source")


# --- corpus token-length histogram ----------------------------------------------------

def q_token_histogram(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bucket = F.floor(F.size(_words()) / 10).cast("long")
    return docs.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("n_docs")
    )


# --- KMV distinct sketch (deterministic, cross-system) --------------------------------
# K-minimum-values: keep the K smallest word hashes; ndv_estimate =
# (K-1) * H / kth_min where H is the hash range. Fully deterministic with
# the shared md5 hash, so the oracle reproduces the sketch exactly — the
# "novel sketch as composition of built-ins" path (no custom execution).

_KMV_K = 64
_H_RANGE = 2**56  # md5 14-hex-digit prefix range


def _kmv_partial_kmin(batches):
    """mapInArrow combiner: per input partition, emit only its K smallest
    DISTINCT hashes. The global K smallest distinct values are a subset of
    each partition's K smallest distinct values, so the full word-hash
    stream never shuffles — only <=K rows per partition do."""
    import numpy as np
    import pyarrow as pa

    best = None
    for batch in batches:
        h = batch.column(0).to_numpy(zero_copy_only=False)
        merged = h if best is None else np.concatenate([best, h])
        best = np.unique(merged)[:_KMV_K]  # np.unique sorts
    if best is not None and len(best):
        yield pa.RecordBatch.from_arrays([pa.array(best)], names=["h"])


def q_kmv_distinct(spark, sf_dir):
    """Combiner-only sketch: at most K rows leave each partition. The exact
    countDistinct ground truth is NOT part of this query (a full-corpus
    distinct would defeat the combiner at scale) — sketch accuracy is
    asserted separately in tests/test_oracle_parity.py."""
    docs = _t(spark, sf_dir, "documents")
    exploded = docs.select(F.explode(_words()).alias("w")).select(
        _word_hash(F.col("w")).alias("h")
    )
    partial = exploded.mapInArrow(_kmv_partial_kmin, "h long")
    kth = (
        partial.distinct().orderBy("h").limit(_KMV_K)
        .agg(F.max("h").alias("kth"), F.count("*").alias("k"))
    )
    return kth.select(
        "k",
        F.round((F.col("k") - 1) * F.lit(_H_RANGE) / F.col("kth"), 1).alias(
            "ndv_estimate"
        ),
    )


# --- deterministic hash sampling (scalable stratified sampling) -------------------------

def q_hash_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sampled = docs.filter((_word_hash(F.col("text")) % 100) < 10)
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
    )


# --- multimodal metadata plumbing (binary column, typed meta) ------------------------

def q_multimodal_meta(spark, sf_dir):
    """Opaque-binary treatment: payload bytes + checksum + typed metadata,
    PLUS a real audio decode leg (r5): per document a deterministic PCM
    WAV is synthesized (params derived from doc_id) and decoded by the
    from-scratch RIFF/WAVE parser (multimodal.parse_wav) in one
    mapInArrow pass — the emitted wav_* columns come from the PARSE, so
    the oracle's analytic recomputation of the same parameters proves the
    container decode end-to-end. Image/video decode stays stubbed (no
    media libraries in this environment)."""
    from vcf2df_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    base = docs.select(
        "doc_id",
        F.octet_length(payload).alias("payload_bytes"),
        F.substring(F.sha2(payload, 256), 1, 16).alias("sha256_prefix"),
    )
    return multimodal.wav_roundtrip(base).withColumn(
        "wav_duration", F.round("wav_duration", 6)
    )


# --- banded-LSH near-dup verdicts (the full MinHash dedup pipeline) ------------
# _N_BANDS bands of _BAND_ROWS rows from the _MINHASH_K-perm signature; a
# pair is a candidate if ANY band matches (union of equi-joins keeps every
# join hash-based — an OR join condition would force a nested-loop). Band
# buckets larger than _BAND_CAP are skipped (hot-band cap: bounds the
# worst-case candidate blowup on skewed corpora). Candidates are verified
# with exact word-set jaccard and kept at >= 0.7.

def q_near_dup_verdicts(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(_words()).alias("ws"), *_minhash_cols()
    )

    def pairs(band_idx: int):
        mh = [f"mh{band_idx * _BAND_ROWS + r}" for r in range(_BAND_ROWS)]
        banded = docs.select(
            "doc_id", "ws", F.struct(*mh).alias("band")
        ).withColumn("bsz", F.count("*").over(Window.partitionBy("band")))
        kept = banded.filter(F.col("bsz") <= _BAND_CAP)
        a, b = kept.alias("a"), kept.alias("b")
        return a.join(
            b, (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ws").alias("ws_a"),
            F.col("b.ws").alias("ws_b"),
        )

    cands = pairs(0)
    for j in range(1, _N_BANDS):
        cands = cands.unionByName(pairs(j))
    cands = cands.dropDuplicates(["doc_a", "doc_b"])
    inter = F.size(
        F.filter(F.col("ws_a"), lambda w: F.array_contains(F.col("ws_b"), w))
    )
    union = F.size("ws_a") + F.size("ws_b") - inter
    return (
        cands.select("doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.7)
    )


# --- IVF-style probe: restrict cosine top-k to the query's coarse cell ----------

def q_ivf_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    bucket = (
        F.when(e[0] > 0, 4).otherwise(0)
        + F.when(e[1] > 0, 2).otherwise(0)
        + F.when(e[2] > 0, 1).otherwise(0)
    )
    bucketed = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    q = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    cands = bucketed.filter(F.col("vec_id") != 0).join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0), lambda acc, v: acc + v)
    )
    sim = F.round(dot / (norm(F.col("embedding")) * norm(F.col("qe"))), 3)
    return (
        cands.select("vec_id", "bucket", sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


# --- persisted ANN index (engine surface; VERDICT r3 #8) ----------------------


def q_ann_index_probe(spark, sf_dir):
    """Engine-through persisted ANN: build the IVF index WITH the engine
    (``ann.build_index`` — seed centroids, ONE Lloyd refinement round,
    map-only rounded-argmax assignment, hive-partitioned cells), then
    probe the 2 nearest cells for vector 0's top-5 cosine neighbors
    (``ann.probe`` reads only those cells' partition dirs). The oracle
    recomputes the same quantizer — seeds, assignment, per-dimension
    means rounded HALF_UP to 6 decimals (the cross-engine reproducibility
    contract), empty-cell seed fallback, re-assignment — and the probe in
    SQL, so equality proves the PERSISTED refined index assigns, prunes,
    and scores exactly."""
    import re
    import shutil

    from vcf2df_spark import ann

    emb = _t(spark, sf_dir, "embeddings")
    idx = "/tmp/vcf2df_annidx_" + re.sub(r"\W", "_", sf_dir.strip("/"))
    shutil.rmtree(idx, ignore_errors=True)
    ann.build_index(spark, emb, idx, k_cells=8, iters=1)
    qvec = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()[0]["v"]
    )
    return ann.probe(spark, idx, qvec, top_k=5, nprobe=2, exclude_id=0)


# (word-trigram shingle counting is part of q_token_stats above; the
# shingle *rows* used by contamination live in _shingle_rows below.)


# --- per-label embedding centroids (the IVF coarse-quantizer step) -------------

def q_centroid_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    )
    per_dim = exploded.groupBy("label", "pos").agg(F.avg("col").alias("m"))
    return per_dim.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 3).alias("centroid_norm"),
    )


# --- context packing (training-data batch assembly) ----------------------------
# pack documents into fixed token budgets by exclusive prefix sum within a
# shard (source): the standard pretraining "sequence packing" assignment.
# Packing within source keeps the window partition-local — a single global
# ordering would serialize on one task at corpus scale.

_PACK_BUDGET = 2000  # tokens per pack


def q_pack_documents(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(_words())
    w = (
        Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    pack = F.floor(pre / _PACK_BUDGET).cast("long")
    assigned = docs.select("source", pack.alias("pack_id"), n_tok.alias("n_tok"))
    return assigned.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


# --- benchmark contamination sweep ----------------------------------------------
# docs sharing any word-trigram shingle with a held-out "benchmark" slice
# (doc_id % 97 == 0): exploded shingles equi-join (semi), never all-pairs.

def _shingle_rows(docs):
    ws = _words()
    n = F.size(ws)
    shingles = F.transform(
        F.slice(ws, 1, F.greatest(n - 2, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.get(ws, i + 1), F.get(ws, i + 2)),
    )
    return docs.select(
        "doc_id", "source", F.explode(F.array_distinct(shingles)).alias("sh")
    )


def q_contamination(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    corpus = _shingle_rows(docs.filter(F.col("doc_id") % 97 != 0))
    bench = (
        _shingle_rows(docs.filter(F.col("doc_id") % 97 == 0))
        .select("sh").distinct()
    )
    hits = corpus.join(bench, "sh", "left_semi").select("doc_id", "source").distinct()
    return hits.groupBy("source").agg(F.count("*").alias("n_contaminated"))


# --- near-dup cluster assignment (connected components) ---------------------------
# iterative min-label propagation over the verified near-dup edges until
# fixpoint: each cluster collapses to its minimum doc_id (the canonical
# document). The loop is a DataFrame join per iteration — O(diameter)
# rounds; near-dup graphs are shallow (pairs/triples), so 2-3 rounds.
# The DuckDB oracle computes the same closure with WITH RECURSIVE.
#
# r6: the iteration runs over EDGE-TOUCHED vertices only. A document
# with no near-dup edge can never change label (its neighbor-min is
# null, least(label, coalesce(null, label)) = label = doc_id), so
# looping over the whole corpus made every round O(corpus) for an
# O(edge-vertices) computation — at 100 TB the near-dup vertex set is
# orders of magnitude smaller than the corpus by construction (banded
# LSH + hot-band cap bound the edges). Isolated docs re-enter as their
# own singleton clusters in the final aggregate, which is exactly what
# the fixpoint computed for them anyway — the result is identical.

def q_dup_clusters(spark, sf_dir):
    edges = q_near_dup_verdicts(spark, sf_dir).select("doc_a", "doc_b")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # localCheckpoint, not cache (r6, guide §5): a cached iteration keeps
    # the ENTIRE LSH pipeline in every round's LOGICAL plan, so Catalyst
    # re-analysis grew per round (measured: round times doubling 2 -> 14s
    # while the data stayed tiny) and cached plans also forgo AQE
    # coalescing. Checkpointing truncates the plan to a leaf: constant
    # per-round planning, AQE-coalesced tiny shuffles. (Checkpointed
    # blocks die with an executor — acceptable for a bounded query; the
    # loop raises rather than returning partial labels anyway.)
    und = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnsRenamed({"doc_a": "src", "doc_b": "dst"}).localCheckpoint()
    touched = und.select(F.col("src").alias("doc_id")).distinct()
    labels = touched.select(
        "doc_id", F.col("doc_id").alias("label")
    ).localCheckpoint()
    # convergence detector: labels only ever DECREASE (least of mins), so
    # sum(label) is strictly decreasing until fixpoint — one aggregate
    # action per round, no self-join against the previous labels (which
    # cost a second join + action per round through r2). decimal(38,0)
    # keeps the sum exact far beyond int64 at corpus scale.
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    converged = False
    for _ in range(20):
        prop = (
            und.join(labels, und.src == labels.doc_id)
            .groupBy("dst").agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(prop, labels.doc_id == prop.dst, "left")
            .select(
                "doc_id",
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:  # never return silently-wrong clusters
        raise RuntimeError("dup_clusters: label propagation did not "
                           "converge within 20 rounds (graph diameter > 20)")
    # isolated docs rejoin as their own singleton labels — the exact
    # value the full-corpus fixpoint assigned them. Anti-join against the
    # final labels (same doc_id set as `touched`): they come from
    # localCheckpoint(), a plan leaf, while `touched` would re-run its
    # distinct over `und` when the caller finally acts.
    isolated = docs.join(labels.select("doc_id"), "doc_id", "left_anti")\
        .select("doc_id", F.col("doc_id").alias("label"))
    return labels.unionByName(isolated).groupBy(
        F.col("label").alias("cluster_id")
    ).agg(F.count("*").alias("n_docs"))


# --- rarity-weighted top terms per source (TF-IDF-shaped ranking) ---------------
# tf = docs-in-source containing the term; rarity = n_sources - df + 1
# (an integer idf surrogate: float ln() can differ between engines in the
# last ulp, integers cannot). Exploded equi-joins + one windowed top-k.

def q_top_terms(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(_words())).alias("w")
    )
    tf = dw.groupBy("source", "w").agg(F.countDistinct("doc_id").alias("tf"))
    dfreq = dw.groupBy("w").agg(F.countDistinct("source").alias("df"))
    nsrc = docs.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(nsrc))
        .withColumn(
            "score",
            (F.col("tf") * (F.col("n_sources") - F.col("df") + 1)).cast("long"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("score"), F.asc("w"))
    )
    return (
        scored.withColumn("rank", rk)
        .filter(F.col("rank") <= 5)
        .select("source", F.col("w").alias("term"), "tf", "df", "score", "rank")
    )


# registry note (round 3): consolidated 26 -> 21 entries (driver 50-row
# window). bpe_tokens/quality_score/shingles merged into token_stats; the
# two all-pairs oracle DEMOS moved to DEMO_QUERIES — still parity-tested by
# pytest, no longer presented to the driver as first-class operators.
QUERIES = {
    "dedup_exact": q_dedup_exact,
    "pack_documents": q_pack_documents,
    "contamination": q_contamination,
    "dup_clusters": q_dup_clusters,
    "top_terms": q_top_terms,
    "centroid_norms": q_centroid_norms,
    "near_dup_verdicts": q_near_dup_verdicts,
    "ann_index_probe": q_ann_index_probe,
    "minhash_signature": q_minhash_signature,
    "simhash": q_simhash,
    "token_stats": q_token_stats,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "cosine_topk": q_cosine_topk,
    "ann_buckets": q_ann_buckets,
    "embedding_near_dup": q_embedding_near_dup,
    "quality_filter": q_quality_filter,
    "token_histogram": q_token_histogram,
    "kmv_distinct": q_kmv_distinct,
    "hash_sample": q_hash_sample,
    "multimodal_meta": q_multimodal_meta,
}

# all-pairs demonstration queries: correct and oracle-checked (pytest parity
# runs them), but NOT scale-safe — candidate generation is quadratic in the
# block/bucket size. The production near-dup path is near_dup_verdicts.
DEMO_QUERIES = {
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "jaccard_pairs": q_jaccard_pairs,
    # superseded as a registered operator by ann_index_probe (the PERSISTED
    # index, r4): this per-query coarse quantizer stays as the didactic demo
    "ivf_probe": q_ivf_probe,
}


def _mh_sql(i: int, a: int, b: int) -> str:
    wh = _SQL_HASH.format(w="w")
    return (
        f"list_min(list_transform({_SQL_WORDS}, "
        f"w -> ({a} * ({wh} % 4294967296) + {b}) % {_P})) AS mh{i}"
    )


_MINHASH_SELECT = ", ".join(
    _mh_sql(i, a, b) for i, (a, b) in enumerate(_MINHASH_PARAMS)
)

# near-dup banded CTEs: per band, window-count the bucket size and keep
# buckets <= _BAND_CAP (the hot-band cap), then equi-join within the band
def _band_cte(j: int) -> str:
    mh = [f"mh{j * _BAND_ROWS + r}" for r in range(_BAND_ROWS)]
    keys = ", ".join(mh)
    return (
        f"band{j} AS (SELECT doc_id, ws, {keys} FROM ("
        f"SELECT doc_id, ws, {keys}, "
        f"count(*) OVER (PARTITION BY {keys}) AS bsz FROM sigs"
        f") WHERE bsz <= {_BAND_CAP})"
    )


def _band_pairs(j: int) -> str:
    mh = [f"mh{j * _BAND_ROWS + r}" for r in range(_BAND_ROWS)]
    on = " AND ".join(f"a.{m} = b.{m}" for m in mh)
    return (
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"a.ws AS ws_a, b.ws AS ws_b "
        f"FROM band{j} a JOIN band{j} b ON {on} AND a.doc_id < b.doc_id"
    )


_NEAR_DUP_BAND_CTES = ",\n        ".join(_band_cte(j) for j in range(_N_BANDS))
_NEAR_DUP_PAIR_UNION = "\n            UNION ALL ".join(
    _band_pairs(j) for j in range(_N_BANDS)
)

# shared CTE chain ending in verd(doc_a, doc_b, jaccard) — used by the
# near_dup_verdicts oracle and as the edge source for dup_clusters
_NEAR_DUP_CTE = f"""sigs AS (
            SELECT doc_id, list_distinct({_SQL_WORDS}) AS ws, {_MINHASH_SELECT}
            FROM documents
        ),
        {_NEAR_DUP_BAND_CTES}
        , cands AS (
            SELECT DISTINCT doc_a, doc_b, ws_a, ws_b
            FROM ({_NEAR_DUP_PAIR_UNION})
        ), verd AS (
            SELECT doc_a, doc_b,
                   round(
                     len(list_filter(ws_a, w -> list_contains(ws_b, w)))::DOUBLE
                     / (len(ws_a) + len(ws_b)
                        - len(list_filter(ws_a, w -> list_contains(ws_b, w)))),
                     4) AS jaccard
            FROM cands
        )"""

# in-array simhash terms, mirroring the Spark F.aggregate formulation
# (empty docs yield 0, matching Spark's aggregate-over-empty-array init)
_SIMHASH_HASHES = (
    f"list_distinct(list_transform({_SQL_WORDS}, "
    f"w -> {_SQL_HASH.format(w='w')}))"
)
_SIMHASH_COMBINE = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {b}) & 1) * 2 - 1))"
    f" > 0 THEN {2**b} ELSE 0 END)"
    for b in range(16)
)

ORACLES = {
    "centroid_norms": """
        WITH per_dim AS (
            SELECT label, i, avg(embedding[i]::DOUBLE) AS m
            FROM embeddings, generate_series(1, 64) s(i)
            GROUP BY label, i
        )
        SELECT label, round(sqrt(sum(m * m)), 3) AS centroid_norm
        FROM per_dim GROUP BY label
    """,
    "near_dup_verdicts": f"""
        WITH {_NEAR_DUP_CTE}
        SELECT doc_a, doc_b, jaccard FROM verd WHERE jaccard >= 0.7
    """,
    "dup_clusters": f"""
        WITH RECURSIVE {_NEAR_DUP_CTE},
        edges AS (SELECT doc_a, doc_b FROM verd WHERE jaccard >= 0.7),
        und AS (
            SELECT doc_a AS src, doc_b AS dst FROM edges
            UNION ALL
            SELECT doc_b, doc_a FROM edges
        ),
        reach(doc, root) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT u.dst, r.root FROM reach r JOIN und u ON u.src = r.doc
        ),
        final AS (SELECT doc, min(root) AS cluster FROM reach GROUP BY doc)
        SELECT cluster AS cluster_id, count(*) AS n_docs
        FROM final GROUP BY cluster
    """,
    "pack_documents": f"""
        WITH t AS (
            SELECT source, doc_id, len({_SQL_WORDS}) AS n_tok FROM documents
        ), assigned AS (
            SELECT source, n_tok,
                   CAST(floor(coalesce(sum(n_tok) OVER (
                        PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id
            FROM t
        )
        SELECT source, pack_id, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens
        FROM assigned GROUP BY source, pack_id
    """,
    "top_terms": f"""
        WITH dw AS (
            SELECT DISTINCT doc_id, source,
                   unnest(list_distinct({_SQL_WORDS})) AS w
            FROM documents
        ), tf AS (
            SELECT source, w, count(DISTINCT doc_id) AS tf
            FROM dw GROUP BY source, w
        ), dfreq AS (
            SELECT w, count(DISTINCT source) AS df FROM dw GROUP BY w
        ), nsrc AS (
            SELECT count(DISTINCT source) AS n_sources FROM documents
        ), scored AS (
            SELECT source, w, tf, df,
                   CAST(tf * (n_sources - df + 1) AS BIGINT) AS score
            FROM tf JOIN dfreq USING (w) CROSS JOIN nsrc
        )
        SELECT source, w AS term, tf, df, score, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY score DESC, w ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    "contamination": f"""
        WITH w AS (
            SELECT doc_id, source, {_SQL_WORDS} AS ws FROM documents
        ), idx AS (
            SELECT doc_id, source, ws,
                   unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
            FROM w
        ), sh AS (
            SELECT DISTINCT doc_id, source,
                   ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
            FROM idx
        ), bench AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
        ), hits AS (
            SELECT DISTINCT s.doc_id, s.source
            FROM sh s JOIN bench b ON s.sh = b.sh
            WHERE s.doc_id % 97 <> 0
        )
        SELECT source, count(*) AS n_contaminated FROM hits GROUP BY source
    """,
    "ann_index_probe": """
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                   embedding::DOUBLE[] AS ce
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
        ), v AS (
            SELECT vec_id, embedding::DOUBLE[] AS ve,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS vn
            FROM embeddings
        ), scored0 AS (
            SELECT v.vec_id, v.ve, s.cid,
                   round(list_dot_product(v.ve, s.ce)
                         / (v.vn * sqrt(list_dot_product(s.ce, s.ce))),
                         6) AS s
            FROM v CROSS JOIN seeds s
        ), asg0 AS (
            SELECT vec_id, ve, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY s DESC, cid ASC) AS rn
                FROM scored0
            ) WHERE rn = 1
        ), dims AS (
            -- one Lloyd round: per-(cell, dimension) means, rounded
            -- HALF_UP to 6 decimals (the engine's cross-engine contract)
            SELECT cid, ve,
                   unnest(generate_series(1, len(ve))) AS pos
            FROM asg0
        ), means AS (
            SELECT cid, pos, round(avg(ve[pos]), 6) AS m
            FROM dims GROUP BY cid, pos
        ), refined AS (
            SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid
        ), cents AS (
            -- a cell left empty keeps its seed centroid (Lloyd fallback)
            SELECT s.cid, coalesce(r.ce, s.ce) AS ce
            FROM seeds s LEFT JOIN refined r USING (cid)
        ), scored AS (
            SELECT v.vec_id, v.ve, c.cid,
                   round(list_dot_product(v.ve, c.ce)
                         / (v.vn * sqrt(list_dot_product(c.ce, c.ce))),
                         6) AS s
            FROM v CROSS JOIN cents c
        ), asg AS (
            SELECT vec_id, ve, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY s DESC, cid ASC) AS rn
                FROM scored
            ) WHERE rn = 1
        ), q AS (
            SELECT ve AS qe, sqrt(list_dot_product(ve, ve)) AS qn
            FROM asg WHERE vec_id = 0
        ), probe_cells AS (
            SELECT c.cid FROM cents c, q
            ORDER BY round(list_dot_product(q.qe, c.ce)
                           / (q.qn * sqrt(list_dot_product(c.ce, c.ce))),
                           6) DESC,
                     c.cid ASC
            LIMIT 2
        )
        SELECT a.vec_id,
               CAST(a.cid AS INTEGER) AS cell,
               round(list_dot_product(a.ve, q.qe)
                     / (sqrt(list_dot_product(a.ve, a.ve)) * q.qn), 3) AS cosine
        FROM asg a, q
        WHERE a.cid IN (SELECT cid FROM probe_cells) AND a.vec_id <> 0
        ORDER BY cosine DESC, a.vec_id ASC
        LIMIT 5
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_hash, count(*) AS n_copies,
               min(doc_id) AS canonical_id
        FROM documents GROUP BY md5(text)
    """,
    "minhash_signature": f"SELECT doc_id, {_MINHASH_SELECT} FROM documents",
    "simhash": f"""
        WITH hashes AS (
            SELECT doc_id, {_SIMHASH_HASHES} AS hs FROM documents
        )
        SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash16
        FROM hashes
    """,
    "token_stats": f"""
        WITH w AS (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents),
        idx AS (
            SELECT doc_id, ws,
                   unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
            FROM w
        ),
        sh AS (
            SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
            FROM idx
        ),
        shc AS (
            SELECT doc_id, count(*) AS n_shingles,
                   count(DISTINCT shingle) AS n_distinct_shingles
            FROM sh GROUP BY doc_id
        )
        SELECT w.doc_id,
               len(ws) AS n_tokens,
               len(list_distinct(ws)) AS n_distinct_tokens,
               length(text) AS n_chars_actual,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
                   AS n_bpe_tokens,
               round(octet_length(encode(text))::DOUBLE
                     / greatest(length(text), 1), 6) AS bytes_per_char,
               coalesce(shc.n_shingles, 0) AS n_shingles,
               coalesce(shc.n_distinct_shingles, 0) AS n_distinct_shingles,
               round(len(list_distinct(ws))::DOUBLE / len(ws), 4) AS ttr,
               round(least(1.0, len(ws) / 100.0), 4) AS len_score,
               round((len(list_distinct(ws))::DOUBLE / len(ws))
                     * least(1.0, len(ws) / 100.0), 4) AS quality
        FROM w LEFT JOIN shc USING (doc_id)
    """,
    "lang_id": f"""
        SELECT doc_id, lang,
               len(list_filter({_SQL_WORDS},
                   w -> lower(w) IN ('the','and','of','a','to','in','is')))
                   AS stopword_hits,
               CASE WHEN len(list_filter({_SQL_WORDS},
                        w -> lower(w) IN ('the','and','of','a','to','in','is')))
                        * 20 >= len({_SQL_WORDS})
                    THEN 'en' ELSE 'other' END AS lang_pred
        FROM documents
    """,
    "fingerprint": f"""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform({_SQL_WORDS},
                     w -> {_SQL_HASH.format(w='w')} % 1000000)),
                 (acc, h) -> (acc * 31 + h) % {_P}) AS fingerprint
        FROM documents
    """,
    "cosine_topk": """
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))),
                     3) AS cosine
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    "ann_buckets": """
        SELECT (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket,
               count(*) AS n_vectors
        FROM embeddings GROUP BY 1
    """,
    "kmv_distinct": f"""
        WITH hashes AS (
            SELECT DISTINCT {_SQL_HASH.format(w='w')} AS h
            FROM (SELECT unnest({_SQL_WORDS}) AS w FROM documents)
        ), kth AS (
            SELECT max(h) AS kth, count(*) AS k
            FROM (SELECT h FROM hashes ORDER BY h LIMIT {_KMV_K})
        )
        SELECT k,
               round((k - 1) * {_H_RANGE}::DOUBLE / kth, 1) AS ndv_estimate
        FROM kth
    """,
    "hash_sample": f"""
        SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
        FROM documents
        WHERE {_SQL_HASH.format(w='text')} % 100 < 10
        GROUP BY lang
    """,
    "embedding_near_dup": """
        WITH b AS (
            SELECT vec_id, embedding,
                   (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
                  + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                  + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket
            FROM embeddings
        )
        SELECT vec_a, vec_b, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                         3) AS cosine
            FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE cosine >= 0.9
    """,
    "quality_filter": f"""
        SELECT doc_id, lang, source FROM documents
        WHERE len({_SQL_WORDS}) >= 20
          AND len(list_distinct({_SQL_WORDS}))::DOUBLE
              / len({_SQL_WORDS}) >= 0.3
    """,
    "token_histogram": f"""
        SELECT CAST(floor(len({_SQL_WORDS}) / 10) AS BIGINT) AS bucket,
               count(*) AS n_docs
        FROM documents GROUP BY 1
    """,
    "multimodal_meta": """
        -- wav_* recomputed ANALYTICALLY from the synthesis parameter
        -- formulas; the engine emits what parse_wav DECODED from the
        -- synthesized container, so equality proves the decode
        SELECT doc_id,
               octet_length(encode(text)) AS payload_bytes,
               substr(sha256(text), 1, 16) AS sha256_prefix,
               CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS wav_sample_rate,
               CAST(1 + doc_id % 2 AS INTEGER) AS wav_channels,
               CAST(400 + (doc_id % 50) * 16 AS BIGINT) AS wav_n_frames,
               round((400 + (doc_id % 50) * 16)
                     / (8000.0 * (1 + doc_id % 3)), 6) AS wav_duration
        FROM documents
    """,
}

# oracles for the unregistered demo queries (pytest parity only)
DEMO_ORACLES = {
    "ivf_probe": """
        WITH b AS (
            SELECT vec_id, embedding,
                   (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
                  + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                  + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket
            FROM embeddings
        ), q AS (SELECT embedding AS qe, bucket AS qbucket FROM b WHERE vec_id = 0)
        SELECT vec_id, bucket,
               round(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))),
                     3) AS cosine
        FROM b, q WHERE vec_id <> 0 AND bucket = qbucket
        ORDER BY cosine DESC, vec_id ASC LIMIT 5
    """,
    "lsh_candidate_pairs": f"""
        WITH sigs AS (
            SELECT doc_id,
                   list_min(list_transform({_SQL_WORDS},
                       w -> ({_MINHASH_PARAMS[0][0]}
                             * ({_SQL_HASH.format(w='w')} % 4294967296)
                             + {_MINHASH_PARAMS[0][1]}) % {_P})) AS mh0
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.mh0 AS band_hash
        FROM sigs a JOIN sigs b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
    """,
    "jaccard_pairs": f"""
        WITH d AS (
            SELECT doc_id, source,
                   list_distinct({_SQL_WORDS}) AS ws
            FROM documents
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(
                     len(list_filter(a.ws, w -> list_contains(b.ws, w)))::DOUBLE
                     / (len(a.ws) + len(b.ws)
                        - len(list_filter(a.ws, w -> list_contains(b.ws, w)))),
                     4) AS jaccard
            FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.3
    """,
}
