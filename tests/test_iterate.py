"""``util.iterate``: the one loop behind the graph and k-means
operators — same rows as the step unrolled lazily, checkpoints after
every round but the last, and a fixed-point exit that stops on the
round it fires."""

from pyspark.sql import functions as F

from lindel_spark.util import iterate


def _start(spark):
    return spark.range(40).select(F.col("id"), (F.col("id") % 7).alias("v"))


def _step(df, r):
    # a shuffle per round (the group-by), and the state read twice —
    # the shape of the graph rounds
    m = df.groupBy((F.col("id") % 5).alias("g")).agg(F.max("v").alias("m"))
    return (df.join(m, F.col("id") % 5 == F.col("g"))
            .select("id", ((F.col("v") * 3 + F.col("m") + r) % 101)
                    .alias("v")))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_iterate_equals_lazy_unroll(spark, actions):
    unrolled = _start(spark)
    for r in range(1, 5):
        unrolled = _step(unrolled, r)
    out, n = actions(lambda: iterate(_start(spark), _step, 4))
    assert n == 3  # a checkpoint after rounds 1-3; round 4 stays lazy
    assert _rows(out) == _rows(unrolled)
    # every=2: the states are persisted and only round 2 checkpoints
    out2, n = actions(lambda: iterate(_start(spark), _step, 4, every=2))
    assert n == 1 and out2.is_cached
    assert _rows(out2) == _rows(unrolled)
    last, n = actions(lambda: iterate(_start(spark), _step, 1))
    assert n == 0
    assert _rows(last) == _rows(_step(_start(spark), 1))
    assert _rows(iterate(_start(spark), _step, 0)) == _rows(_start(spark))


def test_iterate_until_stops_on_the_round_it_fires(spark):
    calls, seen = [], []

    def step(df, r):
        calls.append(r)
        return df.select("id", (F.col("v") + 1).alias("v"))

    def until(df):
        top = df.agg(F.max("v")).first()[0]
        seen.append(top)
        return top >= 9  # the initial max is 6: fires after round 3

    out = iterate(_start(spark), step, 10, until=until)
    assert calls == [1, 2, 3]
    assert seen == [6, 7, 8, 9]
    assert _rows(out) == _rows(_start(spark).select(
        "id", (F.col("v") + 3).alias("v")))
    # firing on the initial state runs no round
    calls.clear()
    out = iterate(_start(spark), step, 10, until=lambda df: True)
    assert calls == [] and _rows(out) == _rows(_start(spark))
    # never called on the last round's lazy state
    seen.clear()
    iterate(_start(spark), step, 2, until=until)
    assert seen == [6, 7]
