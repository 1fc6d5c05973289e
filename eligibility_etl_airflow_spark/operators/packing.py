"""Sequence packing — group variable-length documents into fixed token
budgets (the "pack to context length" step of an LLM training-data
pipeline; maximizes tokens-per-batch so padding waste is bounded).

Distributed shape: documents are hash-sharded into a bounded number of
deterministic groups (one shuffle), then each shard runs best-fit-
decreasing bin packing inside one Arrow-batched ``applyInPandas`` call.
Per-shard state is the open-bin remainder list — O(bins-in-shard), never
corpus-proportional — and nothing reaches the driver. The price of
sharding is that each shard leaves its own partially-filled final bins
(≤ one underfull bin per shard in the common case); that waste is
amortized by ``shard_rows`` and is the standard trade for running the
inherently-sequential packing heuristic in parallel at 100 TB.

Determinism: the shard key is a hash of the id column, and items are
packed in (tokens desc, id asc) order — same input, same packs, on any
cluster layout. No Spark partitioning leaks into the result.
"""

from __future__ import annotations

from bisect import bisect_left

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def best_fit_decreasing(tokens, budget: int):
    """Pure bin-packing core: assign each token count (in the order
    given — callers sort descending for the BFD guarantee) to a bin via
    best-fit (smallest sufficient remainder, binary search over a sorted
    remainder list). Returns ``[(bin_idx, oversize), ...]`` aligned with
    the input; items over budget get their own flagged bin. Extracted
    from the Spark shard packer so the packing invariants are
    property-testable without a session."""
    assign = []
    remainders: list[int] = []
    bin_of_rem: list[int] = []
    next_bin = 0
    for t in tokens:
        t = int(t)
        if t > budget:
            assign.append((next_bin, True))
            next_bin += 1
            continue
        j = bisect_left(remainders, t)
        if j < len(remainders):
            rem = remainders.pop(j)
            b = bin_of_rem.pop(j)
        else:
            rem = budget
            b = next_bin
            next_bin += 1
        rem -= t
        assign.append((b, False))
        k = bisect_left(remainders, rem)
        remainders.insert(k, rem)
        bin_of_rem.insert(k, b)
    return assign


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 64,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Assign every row to a pack whose token sum is ≤ ``budget``.

    Returns ``(id_col, token_col, pack_col, oversize)``; ``pack_col`` is
    a string ``"<shard>:<bin>"``. Rows with ``token_col > budget`` can
    never fit and get a singleton pack with ``oversize = true`` (callers
    decide whether to truncate or drop them — packing must not silently
    mutate content).

    Best-fit-decreasing: items sorted by descending size, each placed in
    the open bin with the SMALLEST sufficient remainder (binary search
    over a sorted remainder list). Within a shard this is the classic
    ≤ 11/9·OPT + 1 guarantee; across shards add ≤ 1 underfull bin each.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")

    import pandas as pd

    out_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        f"{token_col} long, {pack_col} string, oversize boolean"
    )

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf[token_col].isna().any():
            raise ValueError(
                f"pack_sequences: null values in {token_col!r} — a row "
                "without a token count cannot be packed; filter or impute "
                "before packing"
            )
        shard = int(pdf["__shard"].iloc[0])
        # deterministic order: big items first, id breaks ties
        pdf = pdf.sort_values(
            [token_col, id_col], ascending=[False, True], kind="mergesort"
        )
        tokens = pdf[token_col].to_numpy()
        assign = best_fit_decreasing(tokens, budget)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                token_col: tokens.astype("int64"),
                pack_col: [f"{shard}:{b}" for b, _ in assign],
                "oversize": [o for _, o in assign],
            }
        )

    sharded = df.select(
        id_col,
        F.col(token_col).cast("long").alias(token_col),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))).alias("__shard"),
    )
    return sharded.groupBy("__shard").applyInPandas(pack_shard, schema=out_schema)


def pack_stats(packed: DataFrame, token_col: str, pack_col: str, budget: int) -> DataFrame:
    """Per-corpus packing quality: pack count, token utilization, waste.
    One aggregate pass over the packed relation."""
    per_pack = packed.groupBy(pack_col).agg(
        F.sum(token_col).alias("pack_tokens"),
        F.max(F.col("oversize").cast("int")).alias("is_oversize"),
    )
    return per_pack.agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("is_oversize").cast("long").alias("n_oversize_packs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.when(
                F.sum(F.when(F.col("is_oversize") == 0, 1).otherwise(0)) > 0,
                F.sum(
                    F.when(F.col("is_oversize") == 0, F.col("pack_tokens")).otherwise(0)
                )
                / (
                    F.sum(F.when(F.col("is_oversize") == 0, 1).otherwise(0))
                    * F.lit(float(budget))
                ),
            ).otherwise(F.lit(0.0)),  # all-oversize corpus: no utilization,
            # not a DIVIDE_BY_ZERO (ANSI mode is on in this project)
            4,
        ).alias("utilization"),
    )


def assign_token_shards(
    df: DataFrame,
    order_by: list[str],
    token_col: str,
    budget: int,
    shard_col: str = "shard_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Contiguous, order-preserving output sharding by token budget:
    shard k starts at the first row whose EXCLUSIVE running token sum
    (in ``order_by`` order) reaches ``k * budget``. The complement of
    :func:`pack_sequences` — packing maximizes bin fill and ignores
    order; this keeps the corpus order intact (curriculum schedules,
    resumable readers) and balances tokens-per-output-file, which
    ``maxRecordsPerFile`` cannot do for variable-length documents.

    Distributed prefix sum on the shared two-pass scaffolding
    (``sampling.ranged_partition_offsets`` — range-partition, one token
    sum per partition to the driver, broadcast cumulative offsets,
    partition-local running-sum window). No single-partition
    ``Window.orderBy()`` collapse anywhere; the only all-to-all
    movement is the range shuffle itself.

    ``order_by`` must be a total order; null or negative token counts
    are rejected loudly (a silent 0 would shift every later shard).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql.window import Window

    from eligibility_etl_airflow_spark.operators.sampling import (
        ranged_partition_offsets,
    )

    guarded = df.withColumn(
        token_col,
        F.when(
            F.col(token_col).isNull() | (F.col(token_col) < 0),
            F.raise_error(
                F.concat(
                    F.lit(f"assign_token_shards: null/negative {token_col} at "),
                    F.concat_ws(",", *[F.col(c).cast("string") for c in order_by]),
                )
            ).cast("long"),
        ).otherwise(F.col(token_col).cast("long")),
    )
    part, offsets_df = ranged_partition_offsets(
        guarded, order_by, F.sum(token_col), num_partitions
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        part.join(F.broadcast(offsets_df), "_pid")
        .withColumn(
            shard_col,
            F.floor(
                (F.coalesce(F.sum(token_col).over(w), F.lit(0)) + F.col("_offset"))
                / F.lit(budget)
            ).cast("long"),
        )
        .drop("_pid", "_offset")
    )


def shard_manifest(
    df: DataFrame,
    shard_col: str,
    id_col: str,
    token_col: str,
    text_col: str,
) -> DataFrame:
    """Per-shard export manifest — the metadata a training data-loader
    consumes alongside the shards: document count, token sum, id span,
    and an ORDER-INDEPENDENT content checksum (sum of 60-bit md5
    prefixes as decimal(38,0) — commutative, so it is layout- and
    partitioning-invariant, and a reader can re-derive it shard-local to
    detect corruption/drift without any global sort; 38 digits holds
    ~10^20 docs per shard before overflow, far past any real shard).

    One partial-aggregatable groupBy on the shard key — every aggregate
    (count/sum/min/max) combines map-side, so the shuffle carries
    shards-sized rows, not docs-sized. Emits: shard, n_docs, n_tokens,
    min_id, max_id, checksum."""
    h = F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        df.groupBy(F.col(shard_col).alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(token_col)).cast("long").alias("n_tokens"),
            F.min(F.col(id_col)).alias("min_id"),
            F.max(F.col(id_col)).alias("max_id"),
            F.sum(h).cast("decimal(38,0)").alias("checksum"),
        )
    )
