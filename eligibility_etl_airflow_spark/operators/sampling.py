"""Domain-mix resampling — draw a corpus whose stratum proportions match
a target mix (the "data mixture" step of training-data curation: e.g.
30% code, 50% web, 20% books, whatever the recipe says).

Scale shape: one count aggregate (rows per stratum — driver receives one
scalar per stratum, bounded by the mix's cardinality, never by data),
then a seeded per-stratum Bernoulli ``sampleBy`` — a map-only filter
over the scan, no shuffle. The expensive part of resampling at 100 TB is
the scan itself; this adds nothing to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.sources.sinks import _stable


def resample_to_mix(
    df: DataFrame,
    stratum_col: str,
    target_mix: dict[str, float],
    total_rows: int | None = None,
    seed: int = 42,
    id_col: str | None = None,
) -> DataFrame:
    """Sample ``df`` so the expected stratum proportions equal
    ``target_mix`` (shares; must sum to ~1). Strata absent from the mix
    are dropped — a mix is a whitelist.

    The achievable corpus size is limited by the scarcest stratum:
    ``feasible = min(count_s / share_s)``. ``total_rows`` caps the draw
    below that; asking for more than feasible silently clamps (the
    alternative — upsampling scarce strata — means duplicating rows,
    which is a different operator with different training implications).

    Sampling is Bernoulli per stratum: proportions hold in expectation
    with O(1/√n) noise, the price of a single-pass, shuffle-free draw.
    Two membership rules, same fractions:

    - ``id_col=None`` (default): seeded ``sampleBy`` — deterministic for
      a fixed seed + partitioning of the source (columnar scans of the
      same files are stable), but a property of the LAYOUT, not the key.
    - ``id_col`` given: keep a row iff ``hash_uniform(seed, id) <=
      fraction(stratum)`` — membership is a pure function of the key
      like :func:`assign_split`, so it is rerun-stable on ANY layout and
      engine-portable (DuckDB reproduces the md5 draw bit-for-bit).
      Still map-only: the per-stratum fractions arrive as a literal map
      expression, no join.
    """
    shares = {k: v for k, v in target_mix.items() if v > 0}
    ssum = sum(shares.values())
    if not shares or abs(ssum - 1.0) > 1e-6:
        raise ValueError(f"target_mix shares must sum to 1, got {ssum}")

    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    missing = [s for s in shares if counts.get(s, 0) == 0]
    if missing:
        raise ValueError(f"target_mix strata absent from data: {missing}")

    feasible = min(counts[s] / share for s, share in shares.items())
    total = min(total_rows, feasible) if total_rows is not None else feasible
    fractions = {
        s: min(1.0, (total * share) / counts[s]) for s, share in shares.items()
    }
    if id_col is not None:
        u = hash_uniform(f"mix{seed}", id_col)
        frac_map = F.create_map(
            *[lit for s, fr in fractions.items() for lit in (F.lit(s), F.lit(fr))]
        )
        # absent strata -> null fraction -> predicate null -> row dropped
        return df.filter(u <= frac_map[F.col(stratum_col)])
    return df.sampleBy(stratum_col, fractions, seed)


def assign_split(
    df: DataFrame,
    id_col: str,
    test_frac: float = 0.1,
    seed: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic, leakage-free train/test split by key hash.

    The standard random split (``randomSplit``/``rand()``) is a property
    of the RUN — rerun the job, shuffle the files, or add rows and the
    membership changes, silently leaking test examples into training.
    This split is a property of the KEY: side = md5(seed || id), so the
    same id lands on the same side in every run, across engines, and in
    incrementally-arriving data (the eval set of batch N+1 is a superset
    of batch N's — append-consistent).

    Mechanics: compare the first 8 hex chars of the md5 against the
    threshold hex for ``test_frac`` (md5 is uniform, so a lexicographic
    prefix compare selects the fraction; hex strings compare identically
    in every engine, which keeps the DuckDB twin exact — unlike
    xxhash64, which DuckDB lacks). Map-only, no shuffle; fraction holds
    within O(1/sqrt(n)).

    Null ids go to train: a null key cannot be looked up for leakage
    checks, so it must never be in the eval set.
    """
    if not 0.0 <= test_frac <= 1.0:
        raise ValueError(f"test_frac must be in [0, 1], got {test_frac}")
    # test_frac=1.0 would format to the 9-char '100000000', which the
    # 8-char lexicographic compare mishandles ('ffffffff' > '1...');
    # 'g' sorts after every hex char, so it means "all non-null keys"
    cut = int(test_frac * 16**8)
    threshold = "g" if cut >= 16**8 else format(cut, "08x")
    h = F.substring(
        F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))), 1, 8
    )
    return df.withColumn(
        split_col,
        F.when(
            F.col(id_col).isNotNull() & (h < F.lit(threshold)), F.lit("test")
        ).otherwise(F.lit("train")),
    )


def assign_split_by_group(
    df: DataFrame,
    group_col: str,
    test_frac: float = 0.1,
    seed: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Train/test split at GROUP granularity: membership is a pure
    function of (seed, group key), so an entire group — a near-dup
    cluster, a domain, an author — lands on ONE side of the split.

    This is the split :func:`assign_split` cannot give you when rows
    are correlated: hashing doc ids puts two near-duplicate documents
    on opposite sides with probability 2·f·(1−f), and a test document
    whose near-twin was trained on is leakage the doc-level split
    cannot see. Pass ``group_col`` = the component label from
    ``operators/components.attach_components`` (or any correlation key)
    and the straddle probability is zero by construction.

    Same md5-prefix mechanics and DuckDB-exact portability as
    ``assign_split``; null groups go to train for the same reason null
    ids do (an unkeyed row cannot be leakage-checked, so it must never
    be in the eval set). Map-only — the cost was paid upstream by
    whatever produced the group labels."""
    return assign_split(
        df, group_col, test_frac=test_frac, seed=seed, split_col=split_col
    )


def ranged_partition_offsets(
    df: DataFrame,
    order_by: list[str],
    scalar_agg,
    num_partitions: int | None = None,
):
    """Shared scaffolding of the distributed prefix-sum family
    (:func:`assign_contiguous_ids` here, ``packing.assign_token_shards``):
    range-partition ``df`` on the order key, reduce ONE scalar per
    partition (``scalar_agg``: an aggregate Column — row count, token
    sum, …) to the driver, and return ``(part, offsets_df)`` where
    ``part`` carries a ``_pid`` column and ``offsets_df`` is the
    broadcast-sized ``(_pid, _offset)`` exclusive cumulative offsets.

    The invariants both callers rely on live here ONCE: ``part`` is
    materialized (``sinks._stable``) so the scalar pass and the caller's
    window pass see the SAME physical partitioning (spark_partition_id
    is a physical property — recomputing the range shuffle between
    actions would re-sample its boundaries); the driver transfer is
    bounded by the partition count, never the data; an empty input
    yields the ``(0, 0)`` placeholder row; the offsets ship as a
    broadcast-join relation, not a plan-sized ``create_map`` literal."""
    if not order_by:
        raise ValueError("order_by must name at least one column")
    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    part = _stable(ranged.withColumn("_pid", F.spark_partition_id()))
    scalars = sorted(
        (r["_pid"], r["v"])
        for r in part.groupBy("_pid").agg(scalar_agg.alias("v")).collect()
    )
    offsets = []
    acc = 0
    for pid, v in scalars:
        offsets.append((pid, acc))
        acc += int(v or 0)
    offsets_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _offset long"
    )
    return part, offsets_df


def assign_contiguous_ids(
    df: DataFrame,
    order_by: list[str],
    id_name: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based row ids in ``order_by`` order — zipWithIndex without
    leaving the DataFrame API and without the single-partition
    ``Window.orderBy()`` collapse.

    Two passes: range-partition on the order key (so partition p holds
    exactly the rows ranked before partition p+1), count rows per
    partition (driver receives one scalar PER PARTITION — bounded by the
    partition count, never by data), then partition-local row_number
    plus the broadcast cumulative offset. Global total order with no
    global sort bottleneck: the only all-to-all movement is the range
    shuffle itself.

    ``order_by`` must be a total order (include a unique tiebreaker);
    ties would make ids run-dependent.

    The ranged relation is materialized once so the count pass and the
    id pass see the SAME partitioning (see ``ranged_partition_offsets``).
    """
    from pyspark.sql.window import Window

    part, offsets_df = ranged_partition_offsets(
        df, order_by, F.count(F.lit(1)), num_partitions
    )
    w = Window.partitionBy("_pid").orderBy(*order_by)
    return (
        part.join(F.broadcast(offsets_df), "_pid")
        .withColumn(
            id_name,
            (F.row_number().over(w) - 1 + F.col("_offset")).cast("long"),
        )
        .drop("_pid", "_offset")
    )


def hash_uniform(seed: str, id_col: str):
    """u ∈ (0, 1) STRICTLY, a pure function of (seed, id): the first 8
    md5 hex chars as an integer, +1, over 2³²+1. Engine-portable — the
    hex prefix parses identically in Spark ``conv`` and DuckDB's
    ``CAST('0x'||… AS BIGINT)`` — and rerun-stable on any layout.
    The single source of the seed/separator/denominator discipline,
    shared by the A-ES draw below and the Gumbel-top-k
    (operators/selection.py): both singularity guards (u > 0 for
    ``pow(u, 1/w)``/``ln u``, u < 1 for ``ln(−ln u)``) live here."""
    hexint = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (hexint + F.lit(1)) / F.lit(float(16**8 + 1))


def weighted_sample_deterministic(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "ws1",
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without randomness: draw k
    rows with probability ∝ weight, deterministically.

    A-ES ranks rows by u^(1/w) (u uniform) and takes the top k — here u
    comes from the md5 of (seed, id) instead of a RNG, making the draw a
    pure function of the key like :func:`assign_split` (rerun-stable,
    engine-portable; the md5-prefix integer parses identically in Spark
    ``conv`` and DuckDB's hex cast). u ∈ (0, 1]: the +1 shift keeps
    log/pow off the u=0 singularity.

    The top-k is ``orderBy(...).limit(k)`` — Spark plans
    TakeOrderedAndProject (per-partition heaps + a k-row merge), never a
    global sort. Rows with null or non-positive weight are excluded (a
    zero weight cannot be drawn; a negative one is meaningless). Ties
    break on the id, so membership is total-ordered and reproducible.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    u = hash_uniform(seed, id_col)
    key = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__wkey", key)
        .orderBy(F.desc("__wkey"), F.col(id_col))
        .limit(k)
        .drop("__wkey")
    )


def temperature_mix(
    df: DataFrame,
    stratum_col: str,
    alpha: float,
    total_rows: int | None = None,
    seed: int = 42,
    id_col: str | None = None,
) -> DataFrame:
    """Temperature-based mixture resampling — the multilingual/
    multi-domain "alpha sampling" rule (mBERT/XLM-R, NLLB): target
    shares ∝ count_s^alpha, so alpha = 1 keeps natural proportions and
    alpha → 0 flattens toward uniform, upweighting scarce strata
    without duplicating rows. Derives the share table from one bounded
    stratum-count aggregate (strata-many scalars to the driver) and
    delegates the draw to :func:`resample_to_mix` — which re-counts the
    strata; two tiny aggregates is the price of composing the
    already-tested feasibility/clamping logic rather than forking it.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r["s"] is not None
    }
    if not counts:
        raise ValueError(f"no non-null strata in {stratum_col!r}")
    raised = {s: float(n) ** alpha for s, n in counts.items()}
    z = sum(raised.values())
    shares = {s: v / z for s, v in raised.items()}
    return resample_to_mix(df, stratum_col, shares, total_rows, seed, id_col=id_col)


def plan_data_budget(
    df: DataFrame,
    stratum_col: str,
    token_col,
    target_mix: dict[str, float],
    total_token_budget: int,
) -> DataFrame:
    """Per-stratum token budgeting for a training mixture — the
    pretraining planning table: given the corpus' AVAILABLE tokens per
    stratum and a target mix over a total token budget, how many tokens
    each stratum must contribute and how many EPOCHS (repeats) of that
    stratum this implies. Repeating data beyond a few epochs degrades
    models, so ``epochs_needed`` is the feasibility alarm the mix
    designer reads before committing a run.

    ``token_col`` is a column name or Column expression (e.g.
    ``text.token_count_bpe(F.col("text"))``). One partial-agg pass over
    the corpus (doc counts + token sums per stratum — map-side combine
    does the volume); the mix is a literal mix-sized relation joined
    broadcast-left so strata ABSENT from the corpus still emit a row
    with zero availability and null epochs (absence must alarm, not
    vanish — zero-share strata likewise stay in the table with a zero
    request rather than disappearing; negative shares raise). Output
    per mix stratum: n_docs, tokens_available, target_share,
    tokens_requested, epochs_needed (round 6), fits_in_one_epoch.
    """
    negative = {k: v for k, v in target_mix.items() if float(v) < 0}
    if negative:
        raise ValueError(f"target_mix shares must be >= 0, got {negative}")
    shares = {k: float(v) for k, v in target_mix.items()}
    ssum = sum(shares.values())
    if not shares or abs(ssum - 1.0) > 1e-6:
        raise ValueError(f"target_mix shares must sum to 1, got {ssum}")
    if total_token_budget <= 0:
        raise ValueError(f"total_token_budget must be positive, got {total_token_budget}")
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    stats = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tok).cast("long").alias("tokens_available"),
    )
    spark = df.sparkSession
    mix_df = spark.createDataFrame(
        sorted(shares.items()), "stratum string, target_share double"
    )
    requested = F.round(F.lit(float(total_token_budget)) * F.col("target_share")).cast(
        "long"
    )
    return (
        mix_df.join(stats, "stratum", "left")
        .select(
            "stratum",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.col("tokens_available"), F.lit(0))
            .cast("long")
            .alias("tokens_available"),
            F.col("target_share"),
            requested.alias("tokens_requested"),
        )
        .withColumn(
            "epochs_needed",
            F.when(
                F.col("tokens_available") > 0,
                F.round(F.col("tokens_requested") / F.col("tokens_available"), 6),
            ),
        )
        .withColumn(
            "fits_in_one_epoch",
            (F.col("tokens_available") >= F.col("tokens_requested")).cast("long"),
        )
    )


def epoch_shuffle_order(
    df: DataFrame,
    id_col: str,
    epoch: int,
    seed: str = "epoch-v1",
    position_col: str = "position",
) -> DataFrame:
    """Deterministic per-epoch global data permutation — the trainer-side
    ordering primitive: every epoch needs a DIFFERENT shuffle of the
    training examples, but each epoch's order must be REPRODUCIBLE
    (resume-from-step, bit-exact reruns, multi-reader coordination all
    depend on it). position = rank of md5(seed | epoch | id), so the
    permutation is a pure function of (seed, epoch, id) — independent of
    partitioning, file layout, and engine (the md5 draw is the
    assign_split discipline; a DuckDB twin grades it).

    Scale shape: the rank comes from :func:`assign_contiguous_ids` —
    range-partition on the hash key, one scalar per partition to the
    driver, partition-local row_number + broadcast offsets. A global
    total order with NO global sort bottleneck and no corpus-sized
    window. Null ids raise loudly at execution: a permutation slot must
    be addressable, and the null row would otherwise land at an
    engine-specific end of the order (Spark sorts nulls first, DuckDB
    last — a silent cross-engine divergence).
    """
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    guarded_id = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(f"epoch_shuffle_order: null {id_col} has no slot")),
    ).otherwise(F.col(id_col).cast("string"))
    key = F.md5(
        F.concat(
            F.lit(seed), F.lit("|"), F.lit(str(int(epoch))), F.lit("|"), guarded_id
        )
    )
    with_key = df.withColumn("_ek", key)
    return assign_contiguous_ids(
        with_key, ["_ek", id_col], id_name=position_col
    ).drop("_ek")
