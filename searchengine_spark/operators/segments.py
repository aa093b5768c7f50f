"""Compressed posting-list segments — the engine's inverted-index layout(s).

Reference: the reverse index is one extent per term of raw 8-byte
[docCRC:u32][tf:u32] postings, built by a hand-rolled out-of-core scatter
(SearchEngine Indexer/Program.cs:583-761), then impact-sorted per term
(Indexer/Program.cs:764-890). Single machine, single file.

Spark-first replacement (SURVEY.md §2.8): the scatter IS a shuffle. Two
layouts, one encoder:

1. **Term-partitioned, salted** (``build_term_segments``) — the build/merge
   layout of the north star: postings shuffled by (term, salt), salt =
   hash(doc_id) % n_salts(df) splits skewed high-df terms so no task owns a
   stopword's full list. Segments merge associatively by (term, salt) via
   sort-merge (operators/merge.py).
2. **Doc-sharded** (``build_doc_segments``) — the query layout: shard =
   doc_id // shard_size (range sharding keeps delta gaps small). Every
   shard holds ALL terms for its doc range, so the top-k scorer runs locally
   per shard with zero cross-shard traffic; global top-k = merge of local
   top-ks (operators/wand.py). This is the classic document-partitioned
   web-search architecture, expressed as groupBy(shard).applyInPandas.

Segment row payload (both layouts): docIDs ascending, stored as delta gaps
+ varint; tfs and dls varint (functions/codec.py) so a segment alone +
(df, N, avgdl) suffices for exact BM25. Block metadata every BLOCK postings
carries the last docID and the exact max idf-free BM25 core in the block
(``block_max_core``). The dense per-shard scorer (operators/wand.py) reads
no block metadata; the column stays in the format until a format change
drops it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from searchengine_spark.functions.codec import (
    CODECS,
    PACK_BLOCK,
    decode_postings,
    delta_decode,
    pack128_encode,
    varint_decode,
    varint_encode_with_offsets,
)
from searchengine_spark.functions.scoring import B as BM25_B
from searchengine_spark.functions.scoring import K1 as BM25_K1

BLOCK = 128                  # postings per block-max block
DEFAULT_DF_TARGET = 100_000  # salting threshold: max postings per (term, salt)
DOCS_PER_SHARD = 65_536      # default doc-range shard size (corpus-derived,
                             # NOT parallelism-derived: the doc-segment
                             # content must be identical across cluster
                             # sizes for the determinism contract)

_PAYLOAD_FIELDS = [
    T.StructField("n", T.IntegerType(), False),
    # cf = sum(tf) within the segment: with n (= df contribution) it makes
    # the segment table a sufficient statistic for term_stats, so the
    # corpus df/cf aggregation runs over ~|vocab|x|shards| segment rows
    # instead of a second full pass over the postings (pipeline.run_build)
    T.StructField("cf", T.LongType(), False),
    # per-row payload codec: "varint" (short lists — shared-blob LEB128)
    # or "pack128" (lists >= 128 postings — frame-of-reference binary
    # packing, the PForDelta family; see functions/codec.py). The same
    # short-tail-vInt / full-block-FOR split Lucene uses.
    T.StructField("codec", T.StringType(), False),
    T.StructField("doc_gaps", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
    T.StructField("block_max_core", T.ArrayType(T.DoubleType()), False),
]

TERM_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        *_PAYLOAD_FIELDS,
    ]
)

DOC_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        *_PAYLOAD_FIELDS,
    ]
)


def bm25_core_np(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Vectorized idf-free BM25 factor: tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).

    The full qf=1 weight is idf(term) * core, and idf is constant per term,
    so block-max metadata stores max(core) — computable WITHOUT df, which
    removes the term_stats join from the segment build (one shuffle total).
    Query time multiplies by idf from the (tiny) query-term stats lookup."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    return tf * (BM25_K1 + 1.0) / denom


def bm25_weight_np(
    tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float
) -> np.ndarray:
    """Vectorized exact BM25 qf=1 weight (twin of scoring.bm25_weight)."""
    return idf * bm25_core_np(tf, dl, avgdl)


def idf_np(df: int, n_docs: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def salt_plan(term_stats: DataFrame, df_target: int = DEFAULT_DF_TARGET) -> DataFrame:
    """term_stats(term, df, cf) -> (term, n_salts) for skewed terms only.

    Kept tiny (only df > df_target rows) so it broadcasts; everything else
    defaults to salt 0 (SURVEY.md §4 skew handling).
    """
    return (
        term_stats.filter(F.col("df") > df_target)
        .select(
            "term",
            F.ceil(F.col("df") / F.lit(df_target)).cast("int").alias("n_salts"),
        )
    )


def _grouped_posting_arrays(tf_table: DataFrame, key_cols: list[str]) -> DataFrame:
    """Postings -> one row per (key...) group with doc-sorted parallel
    arrays, entirely JVM-side:

        groupBy(key).agg(sort_array(collect_list(struct(doc_id, tf, dl))))
          -> transform(ps, p -> p.field) x3

    This is the load-bearing optimization of the segment build: the Python
    encoder then receives ONE Arrow row per segment (term string once,
    values as packed list<int64>) instead of one row per posting — ~100x
    fewer rows and no repeated keys through the JVM<->Python socket, which
    is the scaling bottleneck for wide executors. sort_array on the struct
    orders by doc_id (first field, unique per group), so ordering is
    deterministic without a partition-wide sort.
    """
    return (
        tf_table.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf", "dl"))
            ).alias("ps")
        )
        .select(
            *key_cols,
            F.expr("transform(ps, p -> p.doc_id)").alias("doc_arr"),
            F.expr("transform(ps, p -> p.tf)").alias("tf_arr"),
            F.expr("transform(ps, p -> p.dl)").alias("dl_arr"),
        )
    )


def _encode_group_frame(pdf: pd.DataFrame, key_cols: list[str],
                        avgdl: float, shard_size: int | None = None) -> pd.DataFrame:
    """Encode a batch of (key..., doc_arr, tf_arr, dl_arr) rows into segment
    rows. Vectorized across ALL groups in the batch: arrays are
    concatenated once, varint bytes computed once, and each group slices
    the shared blobs at precomputed offsets.

    With ``shard_size`` set, doc_arr holds SHARD-RELATIVE int32 offsets
    (absolute = shard * shard_size + offset): shard_size <= 2^31 always
    (65 536 default), so the doc column crossing the JVM->Python Arrow
    boundary is int32 instead of int64 — half the socket bytes of the
    encoder's dominant input, with bit-identical output segments."""
    if not len(pdf):
        # a batch can legitimately encode to nothing — e.g. a tombstone-
        # purging merge whose every term in this partition is fully dead
        # (routine at cluster partition counts; surfaced by the r5
        # lifecycle soak's delete_by_query -> consolidate stage)
        return pd.DataFrame(
            columns=[*key_cols, "n", "cf", "codec", "doc_gaps", "tfs",
                     "dls", "block_last_doc", "block_max_core"])
    arrs = pdf["doc_arr"].to_numpy()
    lens = np.fromiter((len(a) for a in arrs), np.int64, len(arrs))
    doc = np.concatenate(arrs).astype(np.uint64)
    if shard_size is not None:
        base = np.repeat(pdf["shard"].to_numpy().astype(np.uint64), lens)
        doc = doc + base * np.uint64(shard_size)
    tf = np.concatenate(pdf["tf_arr"].to_numpy()).astype(np.uint64)
    dl = np.concatenate(pdf["dl_arr"].to_numpy()).astype(np.uint64)
    bounds = np.zeros(len(arrs) + 1, np.int64)
    np.cumsum(lens, out=bounds[1:])
    starts, ends = bounds[:-1], bounds[1:]

    # delta gaps with group-start correction (first gap = absolute docID)
    gaps = doc.copy()
    gaps[1:] -= doc[:-1]
    gaps[starts] = doc[starts]
    gap_blob, gap_off = varint_encode_with_offsets(gaps)
    tf_blob, tf_off = varint_encode_with_offsets(tf)
    dl_blob, dl_off = varint_encode_with_offsets(dl)

    core = bm25_core_np(tf, dl, avgdl)
    doc_i64 = doc.astype(np.int64)
    cfs = np.add.reduceat(tf.astype(np.int64), starts)
    keys = [pdf[c].to_numpy() for c in key_cols]

    rows = []
    for gi, (s, e) in enumerate(zip(starts, ends)):
        blk = np.arange(s, e, BLOCK)
        last = doc_i64[np.minimum(blk + (BLOCK - 1), e - 1)]
        bmax = np.maximum.reduceat(core[s:e], blk - s)
        if e - s >= PACK_BLOCK:
            # long list: frame-of-reference 128-block packing (smaller,
            # and encodes faster than per-byte varint at this length)
            enc = ("pack128", pack128_encode(gaps[s:e]),
                   pack128_encode(tf[s:e]), pack128_encode(dl[s:e]))
        else:
            # short tail: slice the shared varint blobs (one vectorized
            # encode pass amortized over ALL short groups in the batch)
            enc = ("varint", gap_blob[gap_off[s]:gap_off[e]],
                   tf_blob[tf_off[s]:tf_off[e]], dl_blob[dl_off[s]:dl_off[e]])
        rows.append(
            {c: k[gi] for c, k in zip(key_cols, keys)}
            | {
                "n": int(e - s),
                "cf": int(cfs[gi]),
                "codec": enc[0],
                "doc_gaps": enc[1],
                "tfs": enc[2],
                "dls": enc[3],
                "block_last_doc": last.tolist(),
                "block_max_core": bmax.tolist(),
            }
        )
    return pd.DataFrame(rows)


def _group_encoder(key_cols: list[str], avgdl: float,
                   shard_size: int | None = None):
    avgdl = float(avgdl) if avgdl else 1.0

    def encode(batches):
        for pdf in batches:
            if len(pdf):
                yield _encode_group_frame(pdf, key_cols, avgdl, shard_size)

    return encode


def build_term_segments(
    tf_table: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    df_target: int = DEFAULT_DF_TARGET,
    num_partitions: int | None = None,
) -> DataFrame:
    """tf_table(term, doc_id, tf, dl) -> salted term-partitioned segments.

    One shuffle (repartition by term+salt), one Arrow pass (grouped encode).
    """
    spark = tf_table.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    plan = salt_plan(term_stats, df_target)
    salted = (
        tf_table.join(F.broadcast(plan), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("n_salts").isNotNull(),
                F.pmod(F.xxhash64("doc_id"), F.col("n_salts")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("n_salts")
    )
    grouped = _grouped_posting_arrays(salted, ["term", "salt"])
    return grouped.mapInPandas(
        _group_encoder(["term", "salt"], avgdl), TERM_SEGMENT_SCHEMA
    )


def build_doc_segments(
    tf_table: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    n_shards: int | None = None,
) -> DataFrame:
    """tf_table -> doc-range-sharded segments for the WAND query path.

    shard = doc_id // ceil(N / n_shards): dense docIDs make range shards
    balanced AND keep delta gaps tiny (better varint compression than hash
    sharding). At cluster scale this table is written partitioned by shard
    (Iceberg identity partition) so a query fans one task per shard.
    """
    if n_shards is None:
        n_shards = max(1, math.ceil(max(n_docs, 1) / DOCS_PER_SHARD))
    shard_size = max(1, math.ceil(max(n_docs, 1) / n_shards))

    # shard-relative int32 doc offsets + int32 tf/dl through the Arrow
    # boundary (see _encode_group_frame): halves the encoder's input bytes
    with_shard = tf_table.withColumn(
        "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
    ).withColumn(
        "doc_id",
        (F.col("doc_id") - F.col("shard").cast("long") * F.lit(shard_size))
        .cast("int"),
    ).withColumn("tf", F.col("tf").cast("int")) \
     .withColumn("dl", F.col("dl").cast("int"))
    grouped = _grouped_posting_arrays(with_shard, ["shard", "term"])
    return grouped.mapInPandas(
        _group_encoder(["shard", "term"], avgdl, shard_size=shard_size),
        DOC_SEGMENT_SCHEMA,
    )


# ---------------------------------------------------------------------------
# decode side (tests + WAND)
# ---------------------------------------------------------------------------

def decode_payload(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Segment row -> (doc_ids, tfs, dls) numpy arrays. Routes on the
    row's ``codec`` column ("varint" assumed for legacy rows)."""
    codec = getattr(row, "codec", None) or "varint"
    if codec == "varint":
        doc_ids, tfs = decode_postings(row.doc_gaps, row.tfs)
        return doc_ids, tfs, varint_decode(row.dls)
    dec = CODECS[codec][1]
    return delta_decode(dec(row.doc_gaps)), dec(row.tfs), dec(row.dls)


def _binary_column(table, name: str) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, bytes) of a binary column of an Arrow table, read from
    its buffers without a Python object per row: row i is
    ``bytes[offsets[i]:offsets[i + 1]]``."""
    arr = table.column(name).combine_chunks()
    _, off, data = arr.buffers()
    wide = arr.type.equals(pa.large_binary())
    off = np.frombuffer(off, np.int64 if wide else np.int32)
    off = off[arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    return off, (np.frombuffer(data, np.uint8) if data is not None
                 else np.zeros(0, np.uint8))


def decode_table(table, chunk: int = 1 << 20,
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Every row of a segment Arrow table (``n``, ``codec``, ``doc_gaps``,
    ``tfs``, ``dls``) decoded at once -> (doc_ids int64, tfs, dls, starts):
    row i's postings are ``[starts[i], starts[i + 1])``, values identical
    to ``decode_payload`` row by row. Varint rows (the short-list
    majority) decode as one concatenated blob per column and run of rows
    holding about ``chunk`` postings — LEB128 is self-delimiting, and the
    doc-gap prefix sum is re-based at every row start — so the decoder's
    temporaries stay bounded by ``chunk`` whatever the table's size;
    pack128 rows decode one by one."""
    n = table.column("n").to_numpy().astype(np.int64)
    starts = np.zeros(len(n) + 1, np.int64)
    np.cumsum(n, out=starts[1:])
    codecs = table.column("codec").to_pylist()
    var = np.array([c in (None, "varint") for c in codecs], bool)
    cols = {c: _binary_column(table, c) for c in ("doc_gaps", "tfs", "dls")}
    out = {c: np.empty(starts[-1], np.uint64) for c in cols}
    edges = np.unique(np.concatenate((
        [0], np.searchsorted(starts, np.arange(chunk, starts[-1], chunk)),
        [len(n)])))
    for a, b in zip(edges[:-1], edges[1:]):
        v = var[a:b]
        if not v.any():
            continue
        lens = n[a:b][v]
        pos = np.flatnonzero(np.repeat(v, n[a:b])) + starts[a]
        for c, (off, data) in cols.items():
            blob = data[off[a]:off[b]]
            if not v.all():
                blob = blob[np.repeat(v, np.diff(off[a:b + 1]))]
            vals = varint_decode(blob)
            if c == "doc_gaps":
                np.cumsum(vals, out=vals)
                first = np.concatenate(([0], np.cumsum(lens)[:-1]))
                vals -= np.repeat(np.concatenate(
                    ([np.uint64(0)], vals))[first], lens)
            out[c][pos] = vals
    for i in np.flatnonzero(~var):
        dec = CODECS[codecs[i]][1]
        s, e = starts[i], starts[i + 1]
        gaps, tfs, dls = (data[off[i]:off[i + 1]]
                          for off, data in cols.values())
        out["doc_gaps"][s:e] = delta_decode(dec(gaps))
        out["tfs"][s:e], out["dls"][s:e] = dec(tfs), dec(dls)
    return out["doc_gaps"].view(np.int64), out["tfs"], out["dls"], starts


def segments_to_tf(segments: DataFrame) -> DataFrame:
    """Decode segments back to (term, doc_id, tf, dl) — the lossless
    round-trip check used by tests and the driver oracle gate."""
    schema = T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("tf", T.LongType(), False),
            T.StructField("dl", T.LongType(), False),
        ]
    )

    def decode(batches):
        for pdf in batches:
            terms, docs, tfs, dls = [], [], [], []
            for row in pdf.itertuples(index=False):
                d, t, l = decode_payload(row)
                terms.extend([row.term] * len(d))
                docs.append(d.astype(np.int64))
                tfs.append(t.astype(np.int64))
                dls.append(l.astype(np.int64))
            if terms:
                yield pd.DataFrame(
                    {
                        "term": terms,
                        "doc_id": np.concatenate(docs),
                        "tf": np.concatenate(tfs),
                        "dl": np.concatenate(dls),
                    }
                )

    return segments.mapInPandas(decode, schema)
