"""Context-window packing offsets: where each document lands when the
corpus is concatenated in id order and chunked into fixed token windows.

GPT-style pretraining prep concatenates documents (in a deterministic
order) and slices the token stream into ``chunk_tokens``-sized training
sequences. The quantity every sharder needs is each doc's GLOBAL token
offset — a prefix sum over the corpus. A naive Spark window
(``Window.orderBy(id)`` with no partition key) computes it in ONE task;
this implements the scale-correct two-phase distributed prefix sum:

1. range-repartition by id and sort within partitions (global order
   across partition boundaries), then **pin the partitioning** with a
   localCheckpoint — ``repartitionByRange`` SAMPLES its boundaries, so
   two separate actions over the un-pinned plan could disagree on which
   partition a row lands in (the recomputed-lineage hazard this repo
   fixed for window row-ids, window_agg.py multi-window);
2. one small job collects the per-partition token totals (numPartitions
   numbers — bytes, not rows) and turns them into per-partition start
   offsets on the driver;
3. one ``mapInPandas`` pass adds the broadcast offset to the partition-
   local cumulative sum. No row ever crosses the wire; the only
   full-data movement is the range shuffle that any global order needs.

Output per doc: ``n_tokens`` (whitespace tokens — text.token_count
semantics), ``tok_start`` (global offset), ``chunk_first`` /
``chunk_last`` (the training sequences the doc touches). Empty docs
occupy zero tokens: chunk_last == chunk_first marks the insertion
point. Exactly reproducible in SQL (one window cumsum) — the driver
oracle pins it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openmldb_spark.pipeline.text import token_count


def pack_offsets(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", chunk_tokens: int = 2048,
                 num_partitions: int | None = None,
                 tokenizer_fn=None) -> DataFrame:
    """(id, n_tokens, tok_start, chunk_first, chunk_last) per doc.

    ``tokenizer_fn`` makes the token accounting pluggable: real
    pipelines pack by BPE tokens, and offsets computed under a
    different tokenizer are useless downstream. Pass a vectorized
    callable ``pandas.Series[str] -> int64 counts`` (it sees NULL docs
    as ``""``); it runs as an Arrow-batched pandas UDF, so a
    tiktoken/HF ``len(encode(...))`` wrapper drops straight in. The
    default stays the whitespace ``text.token_count`` Column (JVM-side,
    codegen'd) — the two produce identical offsets for single-space
    text, which is what the DuckDB oracle arithmetic pins."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be > 0")
    spark = df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    if tokenizer_fn is None:
        nt_col = token_count(text_col)
    else:
        @F.pandas_udf("long")
        def _nt(s: pd.Series) -> pd.Series:
            counts = np.asarray(tokenizer_fn(s.fillna("")),
                                dtype=np.int64)
            if counts.shape != (len(s),):
                raise ValueError(
                    f"tokenizer_fn must return one int64 count per "
                    f"doc: got shape {counts.shape} for {len(s)} docs")
            return pd.Series(counts)
        nt_col = _nt(F.col(text_col))
    d = (df.select(F.col(id_col), nt_col.alias("__nt"))
         .repartitionByRange(nparts, F.col(id_col))
         .sortWithinPartitions(id_col)
         .localCheckpoint())           # pin sampled range boundaries

    pid = F.spark_partition_id()
    sums = {r["pid"]: r["s"] for r in
            d.groupBy(pid.alias("pid"))
             .agg(F.sum("__nt").alias("s")).collect()}
    offsets = {}
    acc = 0
    for p in sorted(sums):
        offsets[p] = acc
        acc += int(sums[p] or 0)
    bc = spark.sparkContext.broadcast(offsets)

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"{id_col} {id_type}, n_tokens bigint, tok_start bigint, "
              f"chunk_first bigint, chunk_last bigint")
    c = chunk_tokens

    def batches(it):
        offs = bc.value
        run = None                       # partition-local running total
        for pdf in it:
            if len(pdf) == 0:
                continue
            if run is None:
                run = offs[int(pdf["__pid"].iloc[0])]
            nt = pdf["__nt"].to_numpy(dtype=np.int64)
            ends = run + np.cumsum(nt)
            starts = ends - nt
            run = int(ends[-1]) if len(ends) else run
            first = starts // c
            last = np.where(nt > 0, (ends - 1) // c, first)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "n_tokens": nt, "tok_start": starts,
                "chunk_first": first, "chunk_last": last,
            })

    # the chunk size rides on chunk_first's metadata, so pack_chunks can
    # check a reused offsets frame from its schema without running a job
    return (d.withColumn("__pid", pid)
            .mapInPandas(batches, schema)
            .withMetadata("chunk_first", {"chunk_tokens": c}))


def pack_chunks(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", chunk_tokens: int = 2048,
                num_partitions: int | None = None,
                tokenizer_fn=None,
                offsets: DataFrame | None = None) -> DataFrame:
    """Materialized doc -> training-sequence mapping: one row per
    (chunk_id, doc) pair saying which token slice of the doc lands in
    which fixed-size training sequence — the table a sharder actually
    writes when assembling packed pretraining examples.

    Columns: ``chunk_id``; ``id_col``; ``doc_slice_start`` /
    ``doc_slice_end`` (the doc-local token span carried by this chunk,
    end exclusive); ``chunk_pos`` (where inside the chunk the slice
    begins). Invariants (pinned by tests): per doc the slices are
    contiguous and sum to ``n_tokens``; per chunk the slices are
    disjoint and total at most ``chunk_tokens``.

    Scale shape: pure Catalyst on top of :func:`pack_offsets` —
    ``sequence(chunk_first, chunk_last)`` + ``explode`` + codegen'd
    arithmetic, so the only data movement is pack_offsets' one range
    shuffle; fan-out is bounded by ceil(n_tokens/chunk_tokens)+1 rows
    per doc. Zero-token docs occupy no span and are dropped.

    Pass ``offsets`` (a prior :func:`pack_offsets` result for the SAME
    df/chunk_tokens) to reuse its range shuffle + totals collect
    instead of recomputing the prefix sum; offsets built with another
    ``chunk_tokens`` (or not by pack_offsets) raise ``ValueError``."""
    c = chunk_tokens
    if offsets is None:
        off = pack_offsets(df, id_col, text_col, c, num_partitions,
                           tokenizer_fn)
    else:
        built = offsets.schema["chunk_first"].metadata.get("chunk_tokens")
        if built != c:
            raise ValueError(
                f"offsets were built with chunk_tokens={built}, "
                f"not {c}: pass offsets from pack_offsets(chunk_tokens={c})")
        off = offsets
    ch = F.col("chunk_id")
    start = F.col("tok_start")
    end = start + F.col("n_tokens")
    return (off.filter(F.col("n_tokens") > 0)
            .select(F.col(id_col), "n_tokens", "tok_start",
                    F.explode(F.sequence("chunk_first", "chunk_last"))
                    .alias("chunk_id"))
            .select(
                "chunk_id", id_col,
                F.greatest(ch * c - start, F.lit(0).cast("bigint"))
                .alias("doc_slice_start"),
                (F.least((ch + 1) * c, end) - start)
                .alias("doc_slice_end"),
                F.greatest(start - ch * c, F.lit(0).cast("bigint"))
                .alias("chunk_pos")))
