"""Small shared planning helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    s = v.strip().lower()
    for suf in ("kb", "mb", "gb", "tb", "k", "m", "g", "t", "b"):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _SIZE_SUFFIX[suf[0]])
    return int(s)


def local_frame(spark, data, schema) -> DataFrame:
    """Small driver-local lookup/result frame shipped as ONE Arrow
    batch. ``spark.createDataFrame(list)`` builds a
    defaultParallelism-slice pickled Python RDD, and EVERY action that
    evaluates the frame (a broadcast build, a write, a collect) pays
    one Python-worker round trip per slice — measured ~0.35 s per
    action for a 5-row frame on local[32] vs ~0.04 s through Arrow
    (round-15; guide §4 — eliminate the Python boundary). Rows ride a
    pyarrow Table built against the exact Arrow schema, so integers
    never round-trip through float64, None maps to null, and float NaN
    stays NaN (a pandas carrier would silently fold NaN into null).
    Falls back to the plain path if the rows don't fit the Arrow
    converter (ragged/exotic types, lossy coercions).

    Use for the metadata-sized frames operators build on the driver
    (quantile lists, level tables, per-partition offsets, solved
    coefficient rows) — never for data-scale input.
    """
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        if isinstance(schema, StructType):
            st = schema
        else:
            from pyspark.sql.types import _parse_datatype_string

            st = _parse_datatype_string(schema)
        names = st.names
        tbl = pa.Table.from_pylist(
            [dict(zip(names, r)) for r in data],
            schema=to_arrow_schema(st))
        return spark.createDataFrame(tbl)
    except Exception:
        return spark.createDataFrame(data, schema)


def ensure_parallelism(df: DataFrame, factor: int = 1,
                       bytes_per_task: int | None = None) -> DataFrame:
    """Repartition *up* to the cluster's parallelism if the source is
    too small to split (e.g. one small file read as a single task).

    Scale-safe by construction: a big input already splits into >=
    cores partitions and passes through untouched, so the shuffle this
    adds only ever moves a small input. Use ahead of CPU-heavy per-row
    stages (shingling, hashing, Python decode) where one under-split
    file would serialize the whole stage.

    ``bytes_per_task`` (round 16) is the caller's CPU-density hint:
    how many input bytes one task should chew. Dense interpreted
    stages (per-character shingling, per-token lambdas) leave it None
    — full fan-out, any under-split input costs seconds per task.
    Vectorized Arrow/NumPy stages (ADC scans, batch normalize) pass a
    few MB: their per-byte cost is so low that fanning a sub-MB frame
    across every core costs MORE in repartition + per-task overhead
    than the work itself (driver-measured: the 32-core bench ran
    SLOWER than 8-core on exactly these entries). The cap only ever
    applies to small inputs — above ``cores × bytes_per_task`` the
    input splits naturally and this function is a no-op either way.

    The under-split check reads ``sizeInBytes`` from the *optimized
    logical plan's* statistics (catalog/file-listing based) — it never
    touches ``df.rdd``, which would force full physical planning and
    insert a deserialization barrier into the very lineage being
    inspected.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    target = sc.defaultParallelism * factor
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        est_partitions = max(1, size // max(1, max_pb))
        if est_partitions >= target:
            return df
        if bytes_per_task is not None:
            target = min(target, max(1, size // max(1, bytes_per_task)))
        if target <= est_partitions:
            return df
    except Exception:
        # stats unavailable (e.g. Connect): pass through — never risk
        # adding a full shuffle to a frame we cannot size
        return df
    return df.repartition(target)


def global_rank(df: DataFrame, order_cols, out_col: str = "rank",
                num_partitions: int | None = None) -> DataFrame:
    """1-based global rank of every row under a TOTAL order over
    ``order_cols`` — WITHOUT the single-task ``Window.orderBy``
    anti-pattern (an unpartitioned window funnels the entire dataset
    through one task; at 100 TB that is not slow, it is impossible).

    Plan (round 9): determinism comes
    from EXPLICIT partition boundaries, not from materializing the
    frame. A content-deterministic md5 sample of ~``P x 20`` order
    tuples (selected by row CONTENT, so it is identical across
    executions and input partitionings) picks ``P-1`` boundary tuples,
    collected once as literals. Each row's partition id is then a pure
    COLUMN EXPRESSION — the count of boundary tuples below it (one
    struct comparison per boundary, whole-stage codegen) — so the two
    downstream jobs (per-pid counts: map-side-combined groupBy whose
    shuffle is P rows; per-pid enumeration: a PARTITIONED window over
    pid) cannot disagree about placement even though each re-executes
    the input: pid is a function of the row, not of the execution.
    This removes the full-frame ``localCheckpoint`` the round-8 fix
    used (offsets from one execution of ``repartitionByRange`` applied
    to another's enumeration corrupted ranks — repartitionByRange
    re-samples per execution), halving the materialized I/O: one data
    shuffle (the window's hash exchange on pid), one P-row agg, one
    broadcast join. Note the input is SCANNED twice (counts +
    window) — rank a narrow (order cols + id) projection and join the
    rank back by id for wide rows (see sorted_neighborhood_pairs).

    Boundary quality only affects BALANCE, never correctness: pid is
    monotone in Spark's own struct ordering whatever tuples were
    picked, and the exact residual order within a pid partition comes
    from the window's sort.

    ``order_cols`` must be a total order (no ties): append a unique id
    as the last column — with ties, rank among tied rows would be
    ambiguous however it is computed.
    """
    from pyspark.sql import Window

    if isinstance(order_cols, str):
        order_cols = [order_cols]
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    spark = df.sparkSession
    P = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n = df.count()
    bounds: list[tuple] = []
    if n > 0 and P > 1:
        # content-deterministic sample: a row is a sample iff the md5
        # of its order tuple hashes to 0 mod denom — independent of
        # partitioning, task order, or RDD ids
        denom = max(1, n // (P * 20))
        sel = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(
                        "\x1f", *[c.cast("string") for c in cols])),
                    1, 15),
                16, 10).cast("long"),
            F.lit(denom)) == 0
        samp = sorted(
            (tuple(r) for r in df.filter(sel).select(*cols).collect()),
            key=lambda t: tuple((v is not None, v) for v in t))
        stride = max(1, len(samp) // P)
        seen = None
        for t in samp[stride::stride][:P - 1]:
            # skip duplicate or NULL-bearing boundaries: both only
            # cost balance, and NULL literals cannot type a struct
            if t == seen or any(v is None for v in t):
                continue
            bounds.append(t)
            seen = t
    pid = F.lit(0)
    row_struct = F.struct(*cols)
    # struct comparison demands EXACT field types: cast each boundary
    # literal to its order column's type (analysis-only, no job)
    col_types = [f.dataType for f in df.select(*cols).schema.fields]
    for b in bounds:
        lit_struct = F.struct(
            *[F.lit(v).cast(t) for v, t in zip(b, col_types)])
        pid = pid + F.coalesce(
            (row_struct > lit_struct).cast("int"), F.lit(0))
    keyed = df.withColumn("__gr_pid", pid)
    counts = sorted(
        (r["__gr_pid"], r["cnt"])
        for r in keyed.groupBy("__gr_pid")
        .agg(F.count(F.lit(1)).alias("cnt")).collect())
    offsets, acc = [], 0
    for p_, cnt in counts:
        offsets.append((p_, acc))
        acc += cnt
    off_df = F.broadcast(local_frame(
        spark, offsets or [(0, 0)], "__gr_pid int, __gr_off long"))
    w = Window.partitionBy("__gr_pid").orderBy(*cols)
    return (
        keyed.withColumn("__gr_rn", F.row_number().over(w))
        .join(off_df, "__gr_pid")
        .withColumn(out_col,
                    (F.col("__gr_off") + F.col("__gr_rn")).cast("long"))
        .drop("__gr_pid", "__gr_rn", "__gr_off")
    )


def prefix_sums(df: DataFrame, order_col: str, cols,
                num_partitions: int | None = None) -> DataFrame:
    """Running (inclusive) cumulative sums of ``cols`` under the total
    order of ``order_col`` — DISTRIBUTED, never an unpartitioned
    window: range-partition on the order column, PIN placement with a
    localCheckpoint (repartitionByRange re-samples boundaries per
    execution, so without the pin the per-partition totals job and
    the enumeration job could disagree), then per-partition totals (the one
    bounded driver collect, P rows) offset a partitioned window.

    Intended for AGGREGATED frames (distinct order keys, e.g. a
    per-score or per-value count table): the checkpoint materializes
    the input, so collapse row-scale data first. ``order_col`` must
    be duplicate-free — with duplicate keys rows of equal key would
    be ordered arbitrarily within the window and the inclusive
    cumulative would be placement-dependent.
    """
    from pyspark.sql import Window

    cols = [cols] if isinstance(cols, str) else list(cols)
    spark = df.sparkSession
    P = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))
    c = (df.repartitionByRange(P, order_col)
         .withColumn("__pid", F.spark_partition_id())
         .localCheckpoint())
    # offset frame typed from the INPUT columns (integral -> LONG,
    # fractional -> DOUBLE) so running sums of double-valued columns
    # work too (review catch, round 11)
    dtypes = dict(df.dtypes)
    frac = {x: dtypes[x] in ("double", "float") for x in cols}
    per = (c.groupBy("__pid")
           .agg(*[F.sum(x).alias(f"__t_{x}") for x in cols])
           .collect())
    per = sorted((r["__pid"], r) for r in per)
    offs = []
    acc = {x: (0.0 if frac[x] else 0) for x in cols}
    for pid, r in per:
        offs.append(tuple([pid] + [acc[x] for x in cols]))
        for x in cols:
            acc[x] += r[f"__t_{x}"] or (0.0 if frac[x] else 0)
    off_df = local_frame(
        spark, offs or [tuple([0] + [acc[x] for x in cols])],
        ", ".join(["__pid INT"]
                  + [f"__off_{x} " + ("DOUBLE" if frac[x] else "LONG")
                     for x in cols]))
    w = Window.partitionBy("__pid").orderBy(order_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    out = c.join(F.broadcast(off_df), "__pid")
    for x in cols:
        out = out.withColumn(
            f"cum_{x}", F.col(f"__off_{x}") + F.sum(x).over(w))
    return out.drop("__pid", *[f"__off_{x}" for x in cols])


def prefix_mins(df: DataFrame, order_col: str, cols,
                descending: bool = False,
                num_partitions: int | None = None) -> DataFrame:
    """Running (inclusive) cumulative MINIMUM of ``cols`` under the
    total order of ``order_col`` — :func:`prefix_sums`'s fold sibling
    (min is associative, so the same range-partition → pinned
    placement → per-partition totals → offset recipe applies; the
    offset combines through ``least``, whose NULL-skipping is exactly
    the empty-prefix identity). ``descending=True`` runs the order
    backwards, which turns the prefix min into a SUFFIX min of the
    ascending order — the Benjamini–Hochberg step-up shape. Same
    duplicate-free ``order_col`` contract as :func:`prefix_sums`.
    """
    from pyspark.sql import Window

    cols = [cols] if isinstance(cols, str) else list(cols)
    spark = df.sparkSession
    P = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    c = (df.repartitionByRange(P, oc)
         .withColumn("__pid", F.spark_partition_id())
         .localCheckpoint())
    per = (c.groupBy("__pid")
           .agg(*[F.min(x).alias(f"__t_{x}") for x in cols])
           .collect())
    per = sorted((r["__pid"], r) for r in per)
    dtypes = dict(df.dtypes)
    offs = []
    acc = {x: None for x in cols}
    for pid, r in per:
        offs.append(tuple([pid] + [acc[x] for x in cols]))
        for x in cols:
            t = r[f"__t_{x}"]
            if t is not None:
                acc[x] = t if acc[x] is None else min(acc[x], t)
    off_df = local_frame(
        spark, offs or [tuple([0] + [None for _ in cols])],
        ", ".join(["__pid INT"]
                  + [f"__off_{x} {dtypes[x]}" for x in cols]))
    w = Window.partitionBy("__pid").orderBy(oc) \
        .rowsBetween(Window.unboundedPreceding, 0)
    out = c.join(F.broadcast(off_df), "__pid")
    for x in cols:
        out = out.withColumn(
            f"cummin_{x}", F.least(F.col(f"__off_{x}"),
                                   F.min(x).over(w)))
    return out.drop("__pid", *[f"__off_{x}" for x in cols])


def iterate(state: DataFrame, step, rounds: int, until=None,
            every: int = 1) -> DataFrame:
    """The one loop behind every iterative operator (the walks, peels
    and frontiers of :mod:`lindel_spark.graph`,
    :func:`lindel_spark.clustering.kmeans_lloyd`): runs ``state =
    step(state, r)`` for ``r = 1 … rounds`` and returns the last
    state.

    After every round but the last the state is
    ``localCheckpoint``-ed (eager, executor-local blocks): each round
    plans over a one-round-deep lineage, and a state the next round
    reads twice (a frontier filter and a union arm, a score and its
    normalizer) is read back, not recomputed. The last round stays
    lazy, so the result is a lazy frame. Every round (round 16, under
    AQE): AQE re-optimizes the remaining plan at each stage boundary,
    so driver planning grows superlinearly with the depth of an
    uncheckpointed tail — 5 PageRank iterations on the 25-node
    transition graph took 21 s with no checkpoint, 6.4 s
    checkpointing every 4th round and 2.2 s every round; textrank
    10.6 s against 4.6 s. The materialization is the state frame
    only (node-sized for the graph walks, k rows for k-means).

    ``every`` is internal: a call site that measured faster passes a
    literal, with its measurement. The state is then persisted
    (``MEMORY_AND_DISK``) after each round, the last included, and
    checkpointed only after every ``every``-th, which frees the
    states persisted before it. A persisted plan is the same on the
    next call over the same input, so a repeated call reads the cache
    instead of recomputing the rounds; a checkpoint never matches.

    ``until(state) -> bool`` is the optional fixed-point exit, called
    on the initial state and after every round but the last; when it
    returns True the loop stops and returns that state.

    Eager jobs while the result is built: the checkpoints, each one
    Spark action that runs one round's plan (one job per query stage
    under AQE), plus whatever ``until`` runs. No other driver action.
    """
    from pyspark import StorageLevel

    pending: list[DataFrame] = []
    for r in range(1, rounds + 1):
        if until is not None and until(state):
            break
        state = step(state, r)
        if r % every == 0 and r < rounds:
            state = state.localCheckpoint()
            for p in pending:
                p.unpersist(False)
            pending = []
        elif every > 1:
            state = state.persist(StorageLevel.MEMORY_AND_DISK)
            pending.append(state)
    return state


def exact_sum(c: str):
    """Sum of a double column whose partial sums stay below 1e8 (the
    graph scores: PageRank contributions and dangling totals, HITS
    hub and authority sums), independent of summation order: each
    value is cast to decimal(38,30) and decimal addition is
    associative, so every partition layout and shuffle arrival order
    gives the same bits. The 1e-30 quantum sits below a double's ulp
    for any value above ~5e-15; a sum at or above 1e8 overflows (an
    error under ANSI mode, NULL without it)."""
    return F.sum(F.col(c).cast("decimal(38,30)")).cast("double")


def sorted_sum(c: str):
    """Sum of a double column of any range (edge weights), independent
    of layout: the values are sorted before a sequential fold, so every
    layout adds them in one order. Integer-valued weights (counts) give
    the plain sum exactly. Collects each group's values into one
    array, so use it where groups are small or the sum runs once per
    graph, not per iteration."""
    return F.aggregate(F.sort_array(F.collect_list(c)), F.lit(0.0),
                       lambda acc, x: acc + x)
