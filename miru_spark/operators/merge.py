"""A7/A8/A9 — salted term-shuffle, segment merge, block-max metadata.

The one shuffle of the build pipeline (segments -> global index) groups by
term — exactly where hot-term skew bites ("import", "return" in real code, a
near-uniform 31-term vocab here). AQE's skew handling only splits *join*
skew, not skewed ``groupBy`` keys, so salting is custom and load-bearing
(SURVEY.md section 4):

* global df per term is computed first (map-side-combined hash agg);
* a term's posting list is split into ``S = ceil(df_global / target_chunk)``
  buckets, ``bucket = partition_id * S // num_partitions`` — CONTIGUOUS
  logical-partition ranges, so bucket order == docID order and the final
  index keeps hot terms as multiple self-contained chunk rows instead of one
  giant row (which at 10^12 files could not even materialize);
* merge within a (term, bucket) group is an ordered concat of decoded
  segment runs (logical partitions have disjoint ascending docID ranges),
  then re-delta + recompress with the final codec.

Group size is bounded by target_chunk regardless of how hot the term is —
that bounds Python-worker memory in ``applyInPandas``, which is the actual
scale limit of this stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.functions.codecs import CODEC_VARINT
from miru_spark.index.format import pack_chunk, seg_unpack

DEFAULT_TARGET_CHUNK = 1 << 17  # postings per final chunk row (~128k)

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("df_chunk", T.LongType(), False),
        T.StructField("first_docid", T.LongType(), False),
        T.StructField("last_docid", T.LongType(), False),
        T.StructField("codec", T.IntegerType(), False),
        T.StructField("i_tf", T.ArrayType(T.LongType()), False),
        T.StructField("i_dl", T.ArrayType(T.LongType()), False),
        T.StructField("blob", T.BinaryType(), False),
        # blob size as a scalar column: post-build metrics aggregate THIS
        # instead of re-reading every blob page (sum(length(blob)) forces a
        # full postings read-back)
        T.StructField("blob_bytes", T.LongType(), False),
        T.StructField("pos_blob", T.BinaryType(), True),
        T.StructField(
            "blocks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("off_g", T.LongType(), False),
                        T.StructField("off_t", T.LongType(), False),
                        T.StructField("off_d", T.LongType(), False),
                        T.StructField("n", T.LongType(), False),
                        T.StructField("last_docid", T.LongType(), False),
                        T.StructField("i_tf", T.ArrayType(T.LongType()), False),
                        T.StructField("i_dl", T.ArrayType(T.LongType()), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def merge_segments(
    segments: DataFrame,
    codec: int = CODEC_VARINT,
    target_chunk: int = DEFAULT_TARGET_CHUNK,
) -> DataFrame:
    """segments (term, partition_id, df_local, blob) -> final chunk rows.

    Chunk rows are STATS-FREE (impact frontiers, not baked max scores — see
    index/format.py), so the merge needs NO corpus statistics: the same
    reducer output stays valid as n_docs/avgdl/df evolve, which is what lets
    the incremental finalize re-merge only touched terms.
    """
    from pyspark.sql.window import Window

    # A7: POSITIONAL salting — bucket by the term's cumulative posting count
    # over logical partitions, so every bucket holds ~target_chunk postings
    # even when a term's occurrences cluster in a few pids (a
    # pid-PROPORTIONAL split would put them all in one reducer group).
    # Bucket boundaries fall only BETWEEN pids: pid = doc_id // dpp makes
    # pid docID ranges disjoint and ordered, so buckets stay contiguous
    # ascending docID ranges no matter how many segment rows a pid
    # accumulated (incremental appends); intra-bucket interleaving is
    # re-sorted in merge_fn. Group size <= target_chunk + docs_per_part.
    # RANGE frame on the pid VALUE: sums df of all rows with pid strictly
    # below the current row's pid, so every row of a pid shares one prefix —
    # pid-level bucketing in a single window, no extra groupBy+join stage.
    w = (
        Window.partitionBy("term")
        .orderBy("partition_id")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    seg = segments.withColumn(
        "bucket",
        (F.coalesce(F.sum("df_local").over(w), F.lit(0)) / F.lit(target_chunk))
        .cast("int"),
    )

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from miru_spark.index.format import unpack_positions

        term = pdf["term"].iloc[0]
        bucket = int(pdf["bucket"].iloc[0])
        has_pos = "pos" in pdf.columns and pdf["pos"].notna().all()
        ids_l, tf_l, dl_l, pos_l = [], [], [], []
        for i, (blob, n) in enumerate(zip(pdf["blob"], pdf["df_local"])):
            ids, tfs, dls = seg_unpack(blob, int(n))
            ids_l.append(ids)
            tf_l.append(tfs)
            dl_l.append(dls)
            if has_pos:
                pos_l.append(unpack_positions(pdf["pos"].iloc[i], tfs))
        docids = np.concatenate(ids_l)
        tfs = np.concatenate(tf_l)
        dls = np.concatenate(dl_l)
        flat_pos = np.concatenate(pos_l) if has_pos else None
        # Segment rows usually arrive with disjoint ascending pid ranges, but
        # the incremental path can append SEVERAL rows per (term, pid) across
        # micro-batches with arbitrary relative order — always re-sort by
        # docid (near-sorted input, cheap) rather than trust row order.
        order = np.argsort(docids, kind="stable")
        if not np.array_equal(order, np.arange(order.size)):
            if flat_pos is not None:
                # permute the ragged per-posting position runs to match:
                # rank each occurrence by its posting's new position, stable
                # within the run (vectorized lexsort, no per-posting loop)
                tfs_i = tfs.astype(np.int64)
                run_id = np.repeat(np.arange(tfs_i.size), tfs_i)
                inv = np.empty(order.size, dtype=np.int64)
                inv[order] = np.arange(order.size)
                occ_order = np.lexsort(
                    (np.arange(flat_pos.size), inv[run_id])
                )
                flat_pos = flat_pos[occ_order]
            docids, tfs, dls = docids[order], tfs[order], dls[order]
        blob, metas, (c_tf, c_dl), pos_blob = pack_chunk(
            docids, tfs, dls, codec=codec, positions=flat_pos
        )
        return pd.DataFrame(
            {
                "term": [term],
                "bucket": [bucket],
                "df_chunk": [int(docids.size)],
                "first_docid": [int(docids[0])],
                "last_docid": [int(docids[-1])],
                "codec": [codec],
                "i_tf": [c_tf],
                "i_dl": [c_dl],
                "blob": [blob],
                "blob_bytes": [len(blob)],
                "pos_blob": [pos_blob],
                "blocks": [metas],
            }
        )

    return seg.groupBy("term", "bucket").applyInPandas(merge_fn, CHUNK_SCHEMA)
