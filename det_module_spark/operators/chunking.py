"""Context-window chunking and sequence packing for LLM training data.

Two pipeline stages every pretraining corpus goes through after
cleaning/dedup:

- **chunking**: split each document into fixed-size token windows with
  overlap (sliding stride), so downstream training sees bounded
  sequences with cross-boundary context preserved;
- **packing**: lay the token stream end-to-end and cut it into
  fixed-budget bins ("concat then chunk"), so no batch slot is wasted
  on padding. The plan emitted here assigns each document its bin
  span and offset.

Both are pure Column arithmetic over the materialized token array —
no Python in the row path, no shuffle for chunking (a projection +
explode), and packing shuffles only on the partition key (one window
per partition, scale-out across e.g. language/source shards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from det_module_spark.operators.ids import global_cumsum
from det_module_spark.operators.text import token_count, tokens


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """(id, chunk_id, chunk_tokens, chunk_text) sliding windows.

    n_chunks = 1 + ceil(max(0, n_tokens - window) / stride), computed
    with integer arithmetic ((extra + stride - 1) div stride) so the
    count is exact in any engine. The final chunk may be short (the
    tail); documents shorter than ``window`` yield exactly one chunk.
    Tokens are materialized before the per-chunk lambda (interpreted
    higher-order eval — see word_shingles).
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = F.col("__toks")
    n = F.size(toks)
    extra = F.greatest(n - window, F.lit(0))
    n_chunks = (F.lit(1) + F.floor((extra + (stride - 1)) / stride)).cast("int")
    base = df.select(
        F.col(id_col), tokens(F.col(text)).alias("__toks")
    ).select(
        F.col(id_col),
        F.col("__toks"),
        F.size("__toks").alias("__n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    return base.select(
        F.col(id_col),
        "chunk_id",
        F.least(F.lit(window), F.col("__n") - start).alias("chunk_tokens"),
        F.array_join(F.slice(F.col("__toks"), start + 1, window), " ").alias(
            "chunk_text"
        ),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text: str = "text",
    part_col: str | None = "lang",
) -> DataFrame:
    """Concat-then-chunk packing plan: documents are laid end-to-end in
    ``id_col`` order (within each ``part_col`` shard) and the stream is
    cut every ``budget`` tokens. Emits, per document:

    - ``cum_before``: tokens preceding it in its shard's stream,
    - ``bin_start`` / ``bin_end``: the bins its tokens span (a document
      may straddle a cut — standard pretraining packing),
    - ``bin_offset``: position of its first token within bin_start.

    All integer arithmetic (cumulative sums of token counts), so the
    plan is engine-exact. With a ``part_col`` the only shuffle is the
    window partition on it; at 100 TB the shard key keeps every
    partition's running sum independent. With ``part_col=None`` the
    single global stream does NOT fall back to an empty-partition-spec
    window (the single-task scale killer ids.global_ntile exists to
    avoid): it is the exclusive global prefix sum of token counts in
    ``id_col`` order, :func:`ids.global_cumsum` over the shared ordered
    scan. Identical output, distributed at any size.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    # NULL-text contract (both branches, identically): a NULL document
    # contributes ZERO tokens and is still emitted (n_tokens=0,
    # cum_before = its stream position; its bin_start is well-defined,
    # bin_end — the bin of its LAST token — is degenerate for a
    # zero-token doc and may come out < bin_start at a cut boundary).
    # Without the coalesce, size(split(NULL)) is NULL under ANSI and
    # the document's bins would come out NULL.
    tok = F.coalesce(
        token_count(F.col(text)).cast("long"), F.lit(0).cast("long")
    )
    budget = int(budget)
    bins = [
        F.expr(f"cum_before div {budget}").alias("bin_start"),
        F.expr(f"(cum_before + n_tokens - 1) div {budget}").alias(
            "bin_end"
        ),
        (F.col("cum_before") % budget).alias("bin_offset"),
    ]
    if part_col:
        w = Window.partitionBy(part_col).orderBy(id_col)
        base = df.select(
            F.col(part_col), F.col(id_col), tok.alias("n_tokens")
        ).withColumn(
            "cum_before",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        return base.select(
            part_col, id_col, "n_tokens", "cum_before", *bins
        )

    # ungrouped: the exact global prefix sum (ids.global_cumsum) over
    # the two integer columns only, so the pinned layout holds ~16
    # bytes a row, not the corpus text
    slim = df.select(F.col(id_col), tok.alias("n_tokens"))
    packed = global_cumsum(
        slim, [id_col], "n_tokens", out="cum_before", inclusive=False
    )
    return packed.select(id_col, "n_tokens", "cum_before", *bins)


def content_defined_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    modulus: int = 8,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS trick at word
    granularity): a word whose stable hash ≡ 0 (mod ``modulus``)
    OPENS a new chunk, so chunk boundaries depend only on local
    content — insert one word at the front of a document and every
    chunk except the first is still byte-identical, which is what
    makes chunk-hash dedup robust to shifts (fixed-size chunking
    loses every boundary after an edit). Expected chunk length is
    geometric with mean ``modulus`` words.

    → (id, chunk_id, n_words, chunk_hash) — chunk_hash is md5 of the
    space-joined chunk, the storage-dedup key.

    Shape: split + posexplode (work ∝ corpus words, partitioned by
    document), one per-doc cumulative window for chunk ids, one hash
    agg reassembling chunks (array_sort of (pos, word) structs — no
    ordering assumption on collect_list).
    """
    from det_module_spark.operators.dedup import stable_hash64

    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    flagged = words.withColumn(
        "b",
        (
            (stable_hash64(F.col("w")) % modulus == 0)
            & (F.col("pos") > 0)
        ).cast("long"),
    )
    wcum = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    chunked = flagged.withColumn("chunk_id", F.sum("b").over(wcum))
    return (
        chunked.groupBy("id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "w"))
                        ),
                        lambda s: s["w"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
    )


def chunk_dedup_report(chunks: DataFrame, source: DataFrame) -> DataFrame:
    """Per-source storage-dedup diagnostic over CDC chunks:
    → (source, n_chunks, n_distinct, dup_ppm). ``source`` maps
    (id → source). Two hash aggs."""
    joined = chunks.join(source, "id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_hash").alias("n_distinct"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct",
            F.expr(
                "(n_chunks - n_distinct) * 1000000 div n_chunks"
            ).alias("dup_ppm"),
        )
    )
