"""Sequence packing: lay documents end-to-end and chunk into fixed-size
context windows — the standard pretraining batch-construction step
("concat then chunk"). No reference counterpart (LLM-pipeline extension
per BASELINE.json north star).

Packing is computed per shard (``group_col``): a window cumsum over a
deterministic in-shard order gives each document its token offset, from
which first/last context-window index and boundary-straddling fall out
arithmetically. Partitioned by shard the window is parallel — the global
sort a naive single-ORDER-BY packing would need never happens; at 100 TB
each shard packs independently, which is also how training shards are
actually consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import words


def pack_offsets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    capacity: int,
) -> DataFrame:
    """Per-document packing position: whitespace token count, start/end
    offset in the shard's concatenated token stream (order = ``id_col``
    asc), first/last window index at ``capacity`` tokens per window, and
    whether the doc straddles a window boundary (is split across training
    sequences — the packing-quality signal)."""
    toks = df.select(
        F.col(group_col),
        F.col(id_col),
        F.size(words(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("end_offset", F.sum("n_tokens").over(w))
        .withColumn("start_offset", F.col("end_offset") - F.col("n_tokens"))
        .withColumn("first_window", F.floor(F.col("start_offset") / capacity))
        .withColumn("last_window", F.floor((F.col("end_offset") - 1) / capacity))
        .withColumn(
            "straddles", (F.col("last_window") > F.col("first_window")).cast("int")
        )
    )


def chunk_plan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int,
    stride: int,
) -> DataFrame:
    """Per-document sliding-window chunk plan: token windows of ``size``
    starting every ``stride`` tokens (overlap = size - stride) — the
    RAG / long-doc-eval chunker, kept as a PLAN (offsets, not text
    copies) so downstream substring extraction happens at read time and
    the exploded table stays narrow.

    Chunk starts are ``0, stride, 2·stride, …`` while < n_tokens; the
    final chunks clamp to the document end (may be short). Zero-token
    docs emit no rows. Pure array expression + explode — zero shuffle,
    all-integer output (engine-independent by construction).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = df.select(
        F.col(id_col),
        F.size(words(text_col)).alias("n_tokens"),
    )
    starts = F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(stride))
    chunks = toks.filter(F.col("n_tokens") > 0).select(
        F.col(id_col),
        "n_tokens",
        F.explode(starts).alias("tok_start"),
    )
    return chunks.select(
        F.col(id_col),
        (F.col("tok_start") / stride).cast("int").alias("chunk_idx"),
        "tok_start",
        F.least(F.col("tok_start") + size, F.col("n_tokens")).alias("tok_end"),
        (
            F.least(F.col("tok_start") + size, F.col("n_tokens"))
            - F.col("tok_start")
        ).alias("chunk_tokens"),
    )


def pack_summary(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    capacity: int,
) -> DataFrame:
    """Shard-level packing report: total tokens, number of context windows
    produced, docs split across a window boundary, and last-window fill —
    what a data-loading team reviews before a training run."""
    off = pack_offsets(df, text_col, id_col, group_col, capacity)
    return off.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.floor((F.max("end_offset") - 1) / capacity) + 1).alias("n_windows"),
        F.sum("straddles").alias("n_straddlers"),
        F.round(
            (
                (F.max("end_offset") - F.floor((F.max("end_offset") - 1) / capacity) * capacity)
            ).cast("double")
            / capacity,
            6,
        ).alias("last_window_fill"),
    )


def length_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bucket_width: int = 32,
    budget: int = 512,
) -> DataFrame:
    """Length-bucketed batch assembly — the padding-efficiency step
    between curation and the trainer: group documents of similar token
    length into the same batches so per-batch padding waste (every
    sequence pads to its batch's max) stays small, then partition each
    bucket's concatenated token stream into ``budget``-sized batches in
    deterministic id order.

    ``bucket = n_tokens / bucket_width`` (integer division — portable,
    no float log2); within a bucket a running token sum assigns
    ``batch_id = (cumsum - 1) / budget`` — each doc joins the batch
    where its last token lands. This is OFFSET partitioning (the
    ``pack_offsets`` window rule), not a strict cap: a batch's members'
    last-token offsets share one ``budget``-wide window, so the sum
    ABOVE its first member is < ``budget`` (their offsets span less
    than one window) and the total is < ``budget + padded_to`` (the
    first member straddles in at most its own whole length, bounded by
    the bucket's upper edge). A strict never-exceed cap is a
    sequential fold (each decision depends on the previous batch's
    remainder) that no window expresses; trainers take the bounded
    overflow — batch capacity is provisioned as budget + bucket upper
    edge — in exchange for an embarrassingly parallel plan. All integer
    arithmetic over one window pass PARTITIONED BY BUCKET — buckets fill
    independently, never a global sort; at 100 TB this is a write
    partitioned by (bucket, batch_id) that readers consume batch-wise.

    Returns ``(id, n_tokens, bucket, batch_id, batch_pos, padded_to)``
    where ``padded_to`` is the bucket's exclusive upper token bound (the
    worst-case pad target inside the bucket).
    """
    toks = df.select(
        F.col(id_col),
        F.size(words(text_col)).alias("n_tokens"),
    ).withColumn("bucket", F.floor(F.col("n_tokens") / bucket_width).cast("int"))
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    batched = toks.withColumn(
        "batch_id", F.floor((cum - 1) / budget).cast("int")
    )
    wb = Window.partitionBy("bucket", "batch_id").orderBy(F.col(id_col).asc())
    return batched.select(
        F.col(id_col),
        "n_tokens",
        "bucket",
        "batch_id",
        F.row_number().over(wb).alias("batch_pos"),
        ((F.col("bucket") + 1) * bucket_width).alias("padded_to"),
    )


def token_balanced_shards(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_shards: int,
    bucket_width: int | None = None,
) -> DataFrame:
    """Assign documents to ``n_shards`` output shards with near-equal
    TOKEN totals — the training-shard writer's balancing step (readers
    consume shards in parallel; a token-imbalanced shard is a straggler
    epoch after epoch, the storage-layout twin of the join-skew
    problem). ``epoch_order`` hashes docs to shards — equal COUNTS,
    unbalanced tokens when lengths skew; this is the size-aware variant:
    rank docs by token count descending (ties → ascending id) and deal
    them in SNAKE order (0..n-1, n-1..0, repeat) — the deterministic,
    stateless approximation of Graham's LPT greedy: each 2n-rank cycle
    gives every shard one doc from the cycle's heavy half and one from
    its light half, so rank-adjacent size differences cancel and
    max/min shard totals converge to 1 as docs/shard grows. (True LPT
    assigns to the currently-lightest shard — running state that
    doesn't distribute; snake is the standard dealing form. Equal
    per-shard COUNTS are inherent to any dealer, so a corpus whose few
    largest docs outweigh everything else needs doc SPLITTING —
    ``chunk_plan`` — before balancing.)

    Scale note: the default (``bucket_width=None``) rank is ONE global
    window over a skinny (id, n_tokens) projection — exact, but a
    single-partition WindowExec; fine while two BIGINTs per doc fit one
    task, a straggler at 10^10 docs. ``bucket_width`` is the scale
    path: the snake runs INSIDE coarse length buckets
    (``length_buckets``'s grouping — ``bucket = n_tokens div width``),
    so the window is PARTITIONED BY bucket and no single-partition
    stage exists at any corpus size. Each bucket's deal start rotates
    by ``bucket mod 2n`` so the per-bucket remainders (every bucket's
    snake restarting at shard 0) don't all favor the low shards.
    Balance bound: within a bucket members differ by < ``width``
    tokens, so a bucket's shard totals differ by at most (width ·
    cycle count + one doc ≤ bucket upper edge); summed over buckets the
    max−min spread is ≤ Σ_buckets upper_edge — in practice within a few
    largest-doc-sizes of exact (pinned by the parity test band).

    Returns ``(id, n_tokens, shard)``."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.size(words(text_col)).alias("n_tokens"),
    )
    n = int(n_shards)
    if bucket_width is None:
        w = Window.orderBy(F.col("n_tokens").desc(), F.col(id_col).asc())
        rank0 = F.row_number().over(w) - 1
    else:
        bw = int(bucket_width)
        if bw < 1:
            raise ValueError(f"bucket_width must be >= 1: got {bucket_width!r}")
        toks = toks.withColumn(
            "_bucket", F.floor(F.col("n_tokens") / F.lit(bw)).cast("bigint")
        )
        w = Window.partitionBy("_bucket").orderBy(
            F.col("n_tokens").desc(), F.col(id_col).asc()
        )
        # per-bucket deal-start rotation: decorrelates the remainders
        rank0 = (
            F.row_number().over(w) - 1 + F.pmod(F.col("_bucket"), F.lit(2 * n))
        )
    cycle = F.pmod(rank0, F.lit(2 * n))
    return toks.withColumn(
        "shard",
        F.when(cycle < n, cycle)
        .otherwise(F.lit(2 * n - 1) - cycle)
        .cast("int"),
    ).select(id_col, "n_tokens", "shard")


def chunk_text(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the RAG/embedding ingestion shape (``chunk_plan`` reports the
    token-level packing arithmetic; this EMITS the actual chunk rows a
    retrieval index embeds). Starts advance by ``stride = size −
    overlap``; every chunk is ``substring(start, size)``, so adjacent
    chunks share exactly ``overlap`` characters and the concatenation
    of stride-prefixes reconstructs the document (the pinned coverage
    property).

    Map-only: one ``sequence → transform → explode`` per row, no
    shuffle, scales as the scan. A NULL or empty text emits ONE
    empty-chunk accounting row — a document never silently vanishes
    from the chunk table (the ``line_dedup`` NULL lesson, applied from
    birth). Exact integer arithmetic; replays in DuckDB with the same
    expressions. Returns ``(id, chunk_idx, n_chunks, start_char,
    chunk, n_chars)`` — ``start_char`` 0-based."""
    size = int(size)
    overlap = int(overlap)
    if size < 1:
        raise ValueError(f"size must be >= 1: got {size!r}")
    if not 0 <= overlap < size:
        raise ValueError(
            f"overlap must be in [0, size): got overlap={overlap!r},"
            f" size={size!r}"
        )
    stride = size - overlap
    t = F.coalesce(F.col(text_col), F.lit(""))
    ln = F.length(t)
    # number of stride starts needed to cover the text: ceil((len -
    # overlap) / stride), floored at 1 so empty docs keep one row
    n_chunks = F.greatest(
        F.ceil((ln - F.lit(overlap)).cast("double") / F.lit(stride))
        .cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * stride).cast("bigint").alias("start_char"),
            F.substring(t, i * stride + 1, size).alias("chunk"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chunks.cast("int").alias("n_chunks"),
        F.explode(chunks).alias("c"),
    ).select(
        "id",
        F.col("c.chunk_idx"),
        "n_chunks",
        F.col("c.start_char"),
        F.col("c.chunk"),
        F.length("c.chunk").cast("bigint").alias("n_chars"),
    )
