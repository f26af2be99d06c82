"""Join-class operators Spark lacks natively: as-of join and spatial
range join.

The reference engine itself registers no join operators (DuckDB hosts
them, src/lindel_extension.cpp:948-1026), but its locality keys are
exactly the primitive a distributed *spatial* join wants — so
:func:`spatial_range_join` builds on the package's curve machinery
(cell ids joined as single native Morton keys), and :func:`asof_join`
covers the time-series side with a pure shuffle-and-window plan.

Both are compositions of built-in operators: no Python in the hot
path, no driver-side loops, no cartesian products.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lindel_spark.functions import morton_encode_native


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] = (),
    suffix: str = "_r",
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for every left row, the nearest right row of the
    same ``on`` key on the time axis (unmatched left rows keep NULLs).

    ``direction`` (pandas ``merge_asof`` vocabulary):

    - ``"backward"`` (default): latest right with ``right_ts <=
      left_ts`` — DuckDB/pandas ``ASOF JOIN`` semantics.
    - ``"forward"``: earliest right with ``right_ts >= left_ts``.
    - ``"nearest"``: whichever of the two is closer in absolute time;
      exact ties take the backward match (documented, deterministic).

    ``tolerance`` (round 11) bounds the match's staleness: a matched
    row farther than ``tolerance`` from the left timestamp is treated
    as NO match (values NULL) — the standard max-staleness guard for
    sensor alignment and feature lookup. Units: the ts columns' own
    units for numeric timestamps, SECONDS for TimestampType columns.

    **NULL right values carry past (round-12 advice, documented
    semantic):** each value column independently takes the latest
    NON-NULL value in direction — a right row whose value is NULL is
    skipped, and the staleness gate ages the row that actually
    SUPPLIED the value, not the nearest right row. This is the
    pandas ``merge_asof``-on-non-null-columns shape, NOT native SQL
    ASOF (DuckDB's ``ASOF JOIN`` matches on the nearest ROW and would
    return that row's NULL). Pytest-pinned below; feed
    ``.filter(col.isNotNull())`` right frames if row-nearest
    semantics are wanted.

    Plan: tag and union both inputs, one window pass per key ordered
    by (ts, side) carrying the right values across with ``last(...,
    ignorenulls=True)``, keep left rows. One shuffle on the join key,
    state bounded by the window frame — the scalable alternative to a
    per-key collect or an exploding range join (``nearest`` adds a
    second sort over the SAME exchange, not a second shuffle). Ties
    (equal ts) take the right row (matching the inclusive bound);
    multiple right rows on the same (key, ts) resolve
    deterministically to the greatest ``value_cols`` tuple (the window
    sorts them as tertiary keys — without that, Spark's unstable sort
    would pick a run-dependent winner).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"LINDEL: asof_join direction must be backward/forward/"
            f"nearest, got {direction!r}")
    if tolerance is not None and tolerance < 0:
        raise ValueError("LINDEL: tolerance must be >= 0")
    ts_type = left.schema[left_ts].dataType.typeName()
    # dates ride the timestamp path (cast is lossless, tolerance in
    # seconds); everything else must be numeric
    is_time = ts_type.startswith("timestamp") or ts_type == "date"

    def _tnum(c):
        return (F.unix_micros(c.cast("timestamp")).cast("double")
                if is_time else c.cast("double"))

    tol_scaled = (None if tolerance is None
                  else float(tolerance) * (1e6 if is_time else 1.0))

    def _gate(value_expr, matched_ts):
        if tol_scaled is None:
            return value_expr
        ok = (matched_ts.isNotNull()
              & (F.abs(_tnum(F.col("__ts")) - _tnum(matched_ts))
                 <= F.lit(tol_scaled)))
        return F.when(ok, value_expr)
    if not value_cols:
        value_cols = [c for c in right.columns if c not in (on, right_ts)]
    lcols = left.columns
    tagged_r = right.select(
        F.col(on).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(c + suffix) for c in value_cols],
        *[F.lit(None).alias(c) for c in lcols],
    )
    tagged_l = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c + suffix)
          for c in value_cols],
        *[F.col(c).alias(c) for c in lcols],
    )
    union = tagged_r.unionByName(tagged_l)

    def fill(ts_order):
        # right rows order before left at equal __ts in BOTH directions
        # (side asc), so the inclusive bound holds; the frame walks the
        # chosen direction and last(..., ignorenulls) is the match.
        w = (
            Window.partitionBy("__key")
            .orderBy(ts_order, F.col("__side").asc(),
                     *[F.col(c + suffix).asc_nulls_first()
                       for c in value_cols])
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # __mts tracks the matched right row's timestamp (for nearest);
        # per-VALUE matched ts tracks the row that actually SUPPLIED
        # each carried value — with NULL right values the ignorenulls
        # carry can reach past the nearest row, and the staleness gate
        # must age the supplier, not the nearest row (review catch)
        mts = F.when(F.col("__side") == 0, F.col("__ts"))
        return (
            [F.last(c + suffix, ignorenulls=True).over(w) for c in value_cols],
            F.last(mts, ignorenulls=True).over(w),
            [F.last(F.when((F.col("__side") == 0)
                           & F.col(c + suffix).isNotNull(),
                           F.col("__ts")),
                    ignorenulls=True).over(w) for c in value_cols],
        )

    if direction in ("backward", "forward"):
        order = (F.col("__ts").asc() if direction == "backward"
                 else F.col("__ts").desc())
        vals, _mts, vts = fill(order)
        filled = union.select(
            "*",
            *[v.alias(c + suffix + "__f")
              for v, c in zip(vals, value_cols)],
            *[t.alias(c + suffix + "__t")
              for t, c in zip(vts, value_cols)])
        return filled.filter(F.col("__side") == 1).select(
            *[F.col(c) for c in lcols],
            *[_gate(F.col(c + suffix + "__f"),
                    F.col(c + suffix + "__t")).alias(c + suffix)
              for c in value_cols],
        )
    bvals, bmts, bvts = fill(F.col("__ts").asc())
    fvals, fmts, fvts = fill(F.col("__ts").desc())
    filled = union.select(
        "*",
        bmts.alias("__bts"), fmts.alias("__fts"),
        *[v.alias(c + suffix + "__b") for v, c in zip(bvals, value_cols)],
        *[v.alias(c + suffix + "__f") for v, c in zip(fvals, value_cols)],
        *[t.alias(c + suffix + "__bt") for t, c in zip(bvts, value_cols)],
        *[t.alias(c + suffix + "__ft") for t, c in zip(fvts, value_cols)],
    )
    # nearest: backward wins on tie or when forward is absent
    take_b = F.col("__bts").isNotNull() & (
        F.col("__fts").isNull()
        | ((F.col("__ts") - F.col("__bts"))
           <= (F.col("__fts") - F.col("__ts")))
    )
    return filled.filter(F.col("__side") == 1).select(
        *[F.col(c) for c in lcols],
        *[
            _gate(
                F.when(take_b, F.col(c + suffix + "__b"))
                .otherwise(F.col(c + suffix + "__f")),
                F.when(take_b, F.col(c + suffix + "__bt"))
                .otherwise(F.col(c + suffix + "__ft")),
            ).alias(c + suffix)
            for c in value_cols
        ],
    )


def _cell_coords(cols: Sequence[Column], cell: float) -> list[Column]:
    """Non-negative int cell indices, offset by 2^20.

    The supported domain is |floor(coord / cell)| < 2^20 (~10^6 cells
    per axis). The expression is deliberately tiny: the morton bit-
    spread downstream references its input ~2^5 times (each stage of
    the shift-or chain embeds the previous one twice), and
    CollapseProject inlines deterministic producers regardless of
    reference count — any fat here is multiplied 32x in the generated
    code and breaks janino's 64 KB method limit (interpreted-fallback,
    ~2x slower). Domain enforcement lives in :func:`_domain_guard`,
    a separate filter predicate that is never inlined into the chain.
    """
    return [
        (F.floor(c / F.lit(cell)).cast("int") + F.lit(1 << 20)).cast("int")
        for c in cols
    ]


def _domain_guard(df: DataFrame, cols: Sequence[Column],
                  cell: float) -> DataFrame:
    """Raise on coordinates outside the cell grid domain: the +2^20
    offset and int cast in :func:`_cell_coords` would wrap silently and
    alias Morton cell ids, returning wrong join pairs with no error.
    Applied as a standalone filter so the check never bloats the
    bit-interleave expression tree (see _cell_coords docstring).
    """
    ok = F.lit(True)
    for c in cols:
        idx = F.floor(c / F.lit(cell))
        ok = ok & (idx >= F.lit(-(1 << 20))) & (idx < F.lit(1 << 20))
    return df.filter(
        F.when(ok, F.lit(True)).otherwise(
            F.raise_error(
                F.lit("LINDEL: spatial coordinate out of range for cell "
                      "grid (|floor(coord/cell)| must be < 2^20)")
            ).cast("boolean")
        )
    )


def spatial_range_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: Sequence,
    right_cols: Sequence,
    radius: float,
    metric: str = "linf",
) -> DataFrame:
    """All pairs within ``radius``: exact, bucketed, never all-pairs.

    Grid cells of side ``radius``: every right point lands in one cell;
    every left point probes its 3×3 neighborhood, so any pair within
    ``radius`` (L∞, and therefore L2) shares a probed cell — candidate
    generation is *complete*, and the final distance predicate makes
    the result exact. Cell ids are single Morton longs, so the shuffle
    is one equi-join on a uniform 64-bit key. Each right point occupies
    exactly one cell, so no pair is generated twice.

    Returns left.* (aliased ``l_``), right.* (``r_``), and ``dist``
    (the chosen metric). ``metric``: 'linf' or 'l2'.
    """
    lx, ly = [c if isinstance(c, Column) else F.col(c) for c in left_cols]
    rx, ry = [c if isinstance(c, Column) else F.col(c) for c in right_cols]
    left = _domain_guard(left, [lx, ly], radius)
    right = _domain_guard(right, [rx, ry], radius)
    # project the cell coordinates into real int columns first: the 9
    # probe keys then interleave plain attributes, keeping the codegen
    # expression tree small (9 inlined floor-chains blow up compile time)
    lc = left.select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns],
        lx.alias("__lx"), ly.alias("__ly"),
        _cell_coords([lx, ly], radius)[0].alias("__cx"),
        _cell_coords([lx, ly], radius)[1].alias("__cy"),
    )
    # 3x3 probe via a broadcast 9-row offsets dim instead of exploding
    # an array of 9 precomputed keys: Generate inlines its child
    # expression into one generated doConsume, and 9 inlined bit-spread
    # chains blow janino's 64 KB method limit — whole-stage codegen then
    # silently falls back to interpreted mode (~2x slower, jittery).
    # After the broadcast multiply each row computes ONE morton chain.
    offsets_sql = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    offsets = F.broadcast(left.sparkSession.sql(
        f"SELECT * FROM VALUES {offsets_sql} AS t(__dx, __dy)"))
    l = lc.join(offsets).select(
        *[c for c in lc.columns if c not in ("__cx", "__cy")],
        morton_encode_native(
            [F.col("__cx") + F.col("__dx"), F.col("__cy") + F.col("__dy")],
            "int32",
        ).alias("__cell"),
    )
    rc = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns],
        rx.alias("__rx"), ry.alias("__ry"),
        _cell_coords([rx, ry], radius)[0].alias("__cx"),
        _cell_coords([rx, ry], radius)[1].alias("__cy"),
    )
    r = rc.select(
        *[c for c in rc.columns if c not in ("__cx", "__cy")],
        morton_encode_native([F.col("__cx"), F.col("__cy")], "int32")
        .alias("__cell"),
    )
    dx = F.col("__lx") - F.col("__rx")
    dy = F.col("__ly") - F.col("__ry")
    if metric == "l2":
        dist = F.sqrt(dx * dx + dy * dy)
    elif metric == "linf":
        dist = F.greatest(F.abs(dx), F.abs(dy))
    else:
        raise ValueError(f"LINDEL: unknown metric {metric!r}")
    return (
        l.join(r, "__cell")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= radius)
        .drop("__cell", "__lx", "__ly", "__rx", "__ry")
    )


def cogroup_asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] = (),
    suffix: str = "_r",
) -> DataFrame:
    """Backward as-of join via ``groupBy().cogroup().applyInPandas``:
    both inputs are co-partitioned on the key and each key's two
    pandas groups are merged with ``pandas.merge_asof`` inside the
    Arrow batch.

    Same contract as :func:`asof_join` (direction='backward'),
    pytest-pinned equal. Exists as the worked example of Spark's
    cogroup escape hatch — per-key logic too irregular for window
    algebra (model scoring, curve fitting, bespoke alignment) slots
    into this exact shape. For plain as-of alignment PREFER
    :func:`asof_join`: the union+window plan stays in the JVM, while
    cogroup pays one Arrow round-trip per key group.

    Scale: one co-partitioning shuffle of each side on ``on``; state
    is a single key's rows (the same bound the window plan has).
    """
    import pandas as pd

    out_fields = [left.schema[c] for c in left.columns] + [
        T.StructField(f"{c}{suffix}", right.schema[c].dataType)
        for c in value_cols
    ]
    out_schema = T.StructType(out_fields)
    lcols, vcols, sfx = list(left.columns), list(value_cols), suffix
    lts, rts = left_ts, right_ts

    def merge(lg: pd.DataFrame, rg: pd.DataFrame) -> pd.DataFrame:
        if lg.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        rsel = rg[[rts] + vcols].sort_values(rts) if not rg.empty else None
        lg = lg.sort_values(lts)
        if rsel is None or rsel.empty:
            out = lg.copy()
            for c in vcols:
                out[f"{c}{sfx}"] = None
            return out
        merged = pd.merge_asof(
            lg, rsel, left_on=lts, right_on=rts,
            suffixes=("", sfx), direction="backward")
        # merge_asof only suffixes on collision; normalize names
        for c in vcols:
            if c in merged.columns and f"{c}{sfx}" not in merged.columns:
                merged = merged.rename(columns={c: f"{c}{sfx}"})
        return merged[[f.name for f in out_fields]]

    return (
        left.groupBy(on)
        .cogroup(right.groupBy(on))
        .applyInPandas(merge, out_schema)
    )


def interval_overlap_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | Sequence[str],
    point_ts: str,
    start: str,
    end: str,
    grain: int,
    max_buckets_per_interval: int = 100_000,
) -> DataFrame:
    """Join points to the intervals containing them — the 1-D range
    join (``start <= ts <= end``) as a bucketed equi-join, never a
    cartesian product.

    The reference's host engine gets this from DuckDB's IEJoin; Spark
    would naively plan a broadcast-nested-loop. Instead, each interval
    is exploded to the ``grain``-sized buckets it covers (an interval
    of span *s* touches ``s/grain + 1`` buckets) while each point maps
    to exactly ONE bucket — so candidate pairs are generated at most
    once (no post-join dedup) and candidate generation is complete.
    The range predicate then makes the result exact. Pick ``grain``
    near the typical interval span: explosion factor stays ~2 and the
    shuffle key ``(on, bucket)`` is fine-grained enough to spread load.

    Timestamps/starts/ends must be numeric (e.g. ``unix_micros``).
    Columns from ``points`` keep their names; interval payload columns
    are prefixed ``i_``. Raises if any interval would explode past
    ``max_buckets_per_interval`` (same guard philosophy as
    ``gapfill_rollup``: an unbounded explode is an outage at scale,
    fail loudly instead).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if grain <= 0:
        raise ValueError("grain must be a positive integer")
    span_buckets = (
        F.floor(F.col(end) / grain) - F.floor(F.col(start) / grain) + 1)
    # in-plan guard (same pattern as _domain_guard): an interval
    # exploding past the cap raises DURING the join job instead of
    # paying a separate full pass over the intervals up front — at
    # 100 TB the pre-scan would be a real job, the inline predicate
    # is free.
    guarded = intervals.filter(
        F.when(span_buckets <= F.lit(max_buckets_per_interval),
               F.lit(True))
        .otherwise(
            F.raise_error(F.concat(
                F.lit("LINDEL: an interval covers "),
                span_buckets.cast("string"),
                F.lit(f" buckets at grain {grain} (cap "
                      f"{max_buckets_per_interval}); raise the grain "
                      f"or split the interval"))).cast("boolean"))
    )
    ivl = guarded.select(
        *[F.col(c).alias(f"i_{c}") for c in intervals.columns],
        F.explode(
            F.sequence(F.floor(F.col(start) / grain),
                       F.floor(F.col(end) / grain))
        ).alias("__bucket"),
    )
    pts = points.withColumn(
        "__bucket", F.floor(F.col(point_ts) / grain))
    cond = [pts[k] == ivl[f"i_{k}"] for k in keys]
    cond.append(pts["__bucket"] == ivl["__bucket"])
    joined = pts.join(ivl, cond)
    return (
        joined
        .filter((F.col(point_ts) >= F.col(f"i_{start}"))
                & (F.col(point_ts) <= F.col(f"i_{end}")))
        .drop("__bucket")
    )


#: bloom_semi_join: bitmaps up to this many 64-bit words embed as a
#: JVM array literal (pure-codegen probe); larger ones ship via an
#: Arrow-batched UDF closure. 16384 words = 128 KiB ~ 1M bits.
_BLOOM_JVM_WORDS_MAX = 16384


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    expected_keys: int | None = None,
    fpp: float = 0.01,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Exact semi-join with a Bloom-filter pre-filter on the fact side
    — the runtime-filter pattern for a 100 TB fact × small dim.

    Build (ONE job): the dim's distinct join keys are hashed JVM-side
    (``xxhash64`` with k salts) and collected as raw 64-bit lanes
    (≤ 8 · |dim keys| longs — bounded by the *dim*, never the fact);
    the row count sizes the bitmap and NumPy folds the lanes in
    driver-side with the same ``pmod`` the probe uses. Probe: each fact row
    computes its k positions JVM-side; an Arrow-batched pandas UDF
    tests the broadcast bitmap with vectorized bit math — no string
    leaves the JVM, Python only sees int64 positions. Rows failing any
    bit are dropped *before the shuffle*; the surviving ≈ matches +
    fpp·|fact| rows then take the exact semi-join, so the result is
    identical to ``fact SEMI JOIN dim`` while the shuffle/broadcast
    probe volume shrinks by ~the fact's non-matching fraction.

    With AQE Spark can inject a similar runtime filter for some plans;
    this operator makes the reduction explicit, composable, and
    available in front of any downstream op (aggregate, sink, …).
    """
    import math

    import numpy as np

    # ONE build job: collect the distinct keys' raw 64-bit hashes for
    # all k_max salts (bounded by the dim, never the fact); the row
    # count sizes the bitmap and the mod happens driver-side in NumPy.
    K_MAX = 8
    keys = dim.select(on).distinct()
    raw_rows = keys.select(F.array(*[
        F.xxhash64(F.lit(i), F.col(on)) for i in range(K_MAX)
    ]).alias("h")).collect()
    n = max(expected_keys or len(raw_rows), 1)
    # standard bloom sizing: m = -n ln p / (ln 2)^2, k = m/n ln 2
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = min(K_MAX, max(1, int(round(m / n * math.log(2)))))

    def positions(col):
        return F.array(*[
            F.pmod(F.xxhash64(F.lit(i), col), F.lit(m)).cast("long")
            for i in range(k)
        ])

    bitmap = np.zeros((m + 63) // 64, dtype=np.uint64)
    if raw_rows:
        raw = np.array([r["h"] for r in raw_rows], dtype=np.int64)
        idx = np.mod(raw[:, :k], m).ravel()  # == Spark pmod for m > 0
        np.bitwise_or.at(bitmap, idx // 64,
                         np.uint64(1) << (idx % 64).astype(np.uint64))

    if len(bitmap) <= _BLOOM_JVM_WORDS_MAX:
        # small filter: embed the bitmap as an array literal and test
        # bits with getbit — the probe never leaves the JVM and stays
        # inside whole-stage codegen.
        words = F.array(*[
            F.lit(int(w)) for w in bitmap.view(np.int64)
        ])
        test = F.lit(True)
        for i in range(k):
            p = F.pmod(F.xxhash64(F.lit(i), F.col(on)), F.lit(m))
            word = F.element_at(words, (p / 64).cast("int") + 1)
            test = test & (F.getbit(word, p % 64) == 1)
        pruned = fact.filter(test)
    else:
        # big filter: ship the bitmap in the UDF closure; the Arrow
        # batch converts the k-lane position array to a 2-D int64
        # matrix in one shot (no per-element object indexing).
        def _might_contain(pos):
            import pandas as _pd
            p = np.asarray(pos.tolist(), dtype=np.int64)
            bits = (bitmap[p // 64]
                    >> (p % 64).astype(np.uint64)) & np.uint64(1)
            return _pd.Series(bits.all(axis=1))

        might_contain = F.pandas_udf(_might_contain, T.BooleanType())
        pruned = (
            fact.withColumn("__pos", positions(F.col(on)))
            .filter(might_contain(F.col("__pos")))
            .drop("__pos")
        )
    dim_side = F.broadcast(keys) if broadcast_dim else keys
    return pruned.join(dim_side, on, "left_semi")


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    eps: float,
) -> DataFrame:
    """1-D numeric band join: every (left, right) pair with
    ``|left_col − right_col| <= eps`` — price-proximity matching,
    sensor alignment by reading value, the numeric-similarity
    blocking step of record linkage generalized. The 1-D sibling of
    :func:`spatial_range_join` (same cell trick, 3 cells instead of
    3×3): Spark would otherwise plan the pure inequality predicate as
    a BroadcastNestedLoopJoin — quadratic and driver-bound.

    Each left row lands in bucket ``floor(v/eps)``; each right row
    probes its own bucket ± 1 (one map-side 3-element explode on the
    SMALLER-side-by-role frame — choose operands accordingly), the
    join is a hash equi-join on the bucket id, and the exact band
    predicate filters the candidates. Every true pair shares a probe
    bucket (|a−b| ≤ eps ⇒ bucket ids differ by ≤ 1), so candidates
    are complete; buckets are value-derived, so skew follows value
    skew and AQE can split hot buckets.
    """
    if eps <= 0:
        raise ValueError("eps must be > 0")
    lv = F.col(left_col).cast("double")
    rv = F.col(right_col).cast("double")
    lb = left.filter(lv.isNotNull()).withColumn(
        "__cell", F.floor(lv / F.lit(float(eps))).cast("long"))
    probe = right.filter(rv.isNotNull()).withColumn(
        "__cell",
        F.explode(F.array(
            F.floor(rv / F.lit(float(eps))).cast("long") - 1,
            F.floor(rv / F.lit(float(eps))).cast("long"),
            F.floor(rv / F.lit(float(eps))).cast("long") + 1)))
    joined = lb.join(probe, "__cell")
    # frame-qualified references: left_col/right_col may be the SAME
    # name on both sides (the natural price-to-price call) — bare
    # F.col would be ambiguous (review catch, round 11); the output
    # keeps both columns under Spark's usual duplicate-name rules
    return (joined
            .filter(F.abs(lb[left_col].cast("double")
                          - probe[right_col].cast("double"))
                    <= F.lit(float(eps)))
            .drop("__cell"))
