"""Unit tests for the text-analysis and dedup operator tiers."""

import pytest
from pyspark.sql import functions as F

from lindel_spark import dedup as LD
from lindel_spark import text as LT


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "completely different content about spark query engines and scale"),
        (4, "THE  quick   brown fox jumps over the lazy dog near the river bank"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(docs):
    r = {x.doc_id: x.n for x in docs.select(
        "doc_id", LT.token_count(F.col("text")).alias("n")).collect()}
    assert r[1] == 13 and r[5] == 2
    assert r[4] == 13  # multiple spaces collapse to no extra tokens


def test_fingerprint_normalizes_whitespace_and_case(docs):
    r = {x.doc_id: x.fp for x in docs.select(
        "doc_id", LT.doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert r[1] == r[4]
    assert r[1] != r[2]


def test_exact_dedup_keeps_min_id(docs):
    kept = LD.exact_dedup(docs)
    ids = sorted(x.doc_id for x in kept.select("doc_id").collect())
    assert ids == [1, 2, 3, 5]  # 4 is a normalized dup of 1


def test_near_dup_pairs_bucketed(docs):
    pairs = LD.near_dup_pairs(docs, threshold=0.5).collect()
    got = {(x.id_a, x.id_b) for x in pairs}
    assert (1, 2) in got          # one-word difference
    assert (1, 4) in got          # whitespace/case variant
    assert all({a, b} != {1, 3} for a, b in got)  # unrelated not paired
    for x in pairs:
        assert 0.0 <= x.jaccard <= 1.0


def test_drop_near_duplicates(docs):
    kept = LD.drop_near_duplicates(docs, threshold=0.5)
    ids = sorted(x.doc_id for x in kept.select("doc_id").collect())
    assert 1 in ids and 3 in ids and 5 in ids
    assert 2 not in ids and 4 not in ids


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in of to a house that runs"),
         (2, "el perro y la casa de que un es en madrid")],
        "doc_id long, text string")
    r = {x.doc_id: (x.q, x.lang) for x in df.select(
        "doc_id",
        LT.quality_score(F.col("text")).alias("q"),
        LT.language_id(F.col("text")).alias("lang")).collect()}
    assert r[1][1] == "en" and r[2][1] == "es"
    assert 0.0 <= r[1][0] <= 1.0


def test_ngram_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "x")],
        "doc_id long, text string")
    r = {x.ngram: x.cnt for x in LT.ngram_counts(df, n=2).collect()}
    assert r["a b"] == 3 and r["b a"] == 2 and r["b c"] == 1
    assert "x" not in r  # single-token doc contributes nothing


def test_char_ngram_near_dup(docs):
    pairs = LD.near_dup_pairs(docs, k=5, shingles="char",
                              threshold=0.5).collect()
    got = {(x.id_a, x.id_b) for x in pairs}
    assert (1, 2) in got  # single-word edit keeps most char 5-grams
    assert all({a, b} != {1, 3} for a, b in got)


def test_simhash_native_and_deterministic(docs):
    sims = docs.select("doc_id", LD.simhash(F.col("text")).alias("s")).collect()
    vals = {r.doc_id: r.s for r in sims}
    assert all(0 <= v < (1 << LD.SIMHASH_BITS) for v in vals.values())
    # near-identical docs land within the hamming budget; unrelated far
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(vals[1], vals[2]) <= LD.DEFAULT_MAX_HAMMING
    assert ham(vals[1], vals[3]) > LD.DEFAULT_MAX_HAMMING


def test_simhash_pairs_exact_by_pigeonhole(spark):
    """The banded join must find EVERY pair within the hamming budget —
    compare against the brute-force pair set on real sf0.001 docs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sims = docs.select("doc_id", LD.simhash(F.col("text")).alias("s")).collect()
    vals = [(r.doc_id, r.s) for r in sims]
    brute = set()
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            a, b = vals[i], vals[j]
            if bin(a[1] ^ b[1]).count("1") <= LD.DEFAULT_MAX_HAMMING:
                brute.add((min(a[0], b[0]), max(a[0], b[0])))
    got = {(r.id_a, r.id_b)
           for r in LD.simhash_near_dup_pairs(docs).collect()}
    assert got == brute


def test_simhash_fast_matches_column_form(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = docs.select(
        LD.simhash(F.col("text")).alias("a"),
        LD.simhash_fast(F.col("text")).alias("b"),
    ).collect()
    assert all(r.a == r.b for r in both)


def test_dup_clusters_transitive(spark):
    """1-2 and 2-6 near-dups must land in ONE cluster (transitivity),
    even when 1 and 6 are not themselves a verified pair."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (6, "alpha beta gamma delta epsilon zeta kappa iota"),
        (9, "totally unrelated words appear in this document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 6, 0.9)], "id_a long, id_b long, jaccard double")
    out = {r.id: r.cluster
           for r in LD.dup_clusters(df, pairs=pairs).collect()}
    assert out == {1: 1, 2: 1, 6: 1, 9: 9}


def test_winnow_shared_run_guarantee(spark):
    """Two docs sharing a run of w+k-1 = 8 tokens must share >= 1
    fingerprint; a doc with < k tokens emits none."""
    import lindel_spark.text as LT

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [(1, "x y z " + shared + " p q"),
         (2, shared + " completely different tail here"),
         (3, "unrelated words only nothing common at all"),
         (4, "too short")],
        "doc_id long, text string")
    fps = LT.winnow_fingerprints(df, k=5, w=4)
    rows = fps.collect()
    sets = {}
    for r in rows:
        sets.setdefault(r.id, set()).add(r.fp)
    assert sets.get(1) and sets.get(2)
    assert sets[1] & sets[2], "shared 8-token run must share a fingerprint"
    assert not (sets.get(3, set()) & sets[1])
    assert 4 not in sets  # < k tokens -> no fingerprints


def test_incremental_exact_dedup(spark):
    from lindel_spark import dedup as LD

    prior = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string")
    store = prior.select(
        __import__("lindel_spark.text", fromlist=["doc_fingerprint"])
        .doc_fingerprint(F.col("text")).alias("fingerprint"))
    batch = spark.createDataFrame(
        [(10, "seen before"),      # dup of store -> dropped
         (11, "brand new"),        # kept
         (12, "brand new"),        # within-batch dup -> dropped
         (13, "also new")],        # kept
        "doc_id long, text string")
    kept, new_fps = LD.incremental_exact_dedup(batch, store)
    assert {r.doc_id for r in kept.collect()} == {11, 13}
    assert new_fps.count() == 2
    # first-ever batch: store=None keeps min-id per fingerprint
    kept0, fps0 = LD.incremental_exact_dedup(batch, None)
    assert {r.doc_id for r in kept0.collect()} == {10, 11, 13}
    assert fps0.count() == 3


def test_feature_hash_tf_buckets_and_totals(spark):
    from lindel_spark.text import feature_hash_tf, token_count
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tf = feature_hash_tf(docs, dim=64)
    rows = tf.collect()
    assert rows
    assert all(0 <= r.bucket < 64 for r in rows)
    # sum of counts == total token count of the corpus
    total = docs.select(F.sum(token_count(F.col("text")))).first()[0]
    assert sum(r.cnt for r in rows) == total
    # layout-stable (pure function of content)
    again = {(r.doc_id, r.bucket): r.cnt
             for r in feature_hash_tf(docs.repartition(7), dim=64).collect()}
    assert {(r.doc_id, r.bucket): r.cnt for r in rows} == again


def test_latest_by_key_compaction_and_tombstones(spark):
    from lindel_spark.dedup import latest_by_key
    from pyspark.sql import functions as F

    log = spark.createDataFrame(
        [  # (key, ts, seq, val, deleted)
            (1, 10, 0, "a", False),
            (1, 20, 0, "b", False),
            (1, 20, 1, "c", False),   # tie on ts -> seq breaks it
            (2, 5, 0, "x", False),
            (2, 9, 0, "y", True),     # latest is a tombstone -> key gone
            (3, 1, 0, "z", True),
            (3, 2, 0, "w", False),    # tombstone superseded -> key back
        ],
        "k long, ts long, seq long, val string, deleted boolean",
    )
    out = {r.k: r.val for r in latest_by_key(
        log, "k", ["ts", "seq"], delete_col="deleted").collect()}
    assert out == {1: "c", 3: "w"}
    # without delete handling, all keys survive with latest version
    out2 = {r.k: r.val
            for r in latest_by_key(log, "k", ["ts", "seq"]).collect()}
    assert out2 == {1: "c", 2: "y", 3: "w"}


def test_fuzzy_dup_pairs_catches_char_corruption(spark):
    from lindel_spark.dedup import fuzzy_dup_pairs
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet green field toward the river")
    typo = base.replace("quick", "qvick").replace("river", "rivver")
    other = ("completely different content with other words entirely "
             "nothing shared here at all beyond plain english syntax "
             "and some filler to pass the minimum gram threshold")
    df = spark.createDataFrame(
        [(0, base), (1, typo), (2, other)], ["doc_id", "text"])
    rows = {(r["id_a"], r["id_b"]): r["dist"]
            for r in fuzzy_dup_pairs(df, max_dist=5).collect()}
    assert (0, 1) in rows
    assert rows[(0, 1)] == 2  # qvick: 1 sub; rivver: 1 insert
    assert all(2 not in p for p in rows)


def test_fuzzy_dup_pairs_respects_max_dist(spark):
    from lindel_spark.dedup import fuzzy_dup_pairs
    a = " ".join(f"w{i}" for i in range(30))
    b = a.replace("w3", "x3").replace("w7", "x7")  # 2 substitutions
    df = spark.createDataFrame([(0, a), (1, b)], ["doc_id", "text"])
    assert fuzzy_dup_pairs(df, max_dist=1).count() == 0
    got = fuzzy_dup_pairs(df, max_dist=2).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in got] == [(0, 1, 2)]


def test_incremental_near_dup_statuses(spark):
    from lindel_spark.dedup import (incremental_near_dup,
                                    minhash_signatures, word_shingles,
                                    tokens)
    base = "the quick brown fox jumps over the lazy dog again and again"
    store_docs = spark.createDataFrame(
        [(100, base), (101, "completely different historical text "
                            "about distributed query engines")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (1, base),                      # near-identical to store 100
            (2, "an entirely novel document describing bloom "
                "filter runtime pruning at scale"),
            (3, "an entirely novel document describing bloom "
                "filter runtime pruning at scale"),  # dup of 2 in batch
            (4, "tiny doc"),                # < k tokens: kept
        ],
        "doc_id long, text string")
    store_sigs = minhash_signatures(
        store_docs.select(
            F.col("doc_id").alias("id"),
            word_shingles(F.col("text")).alias("sh")))
    status, new_sigs, matches = incremental_near_dup(batch, store_sigs)
    st = {r.id: r.status for r in status.collect()}
    assert st == {1: "dup_of_store", 2: "kept", 3: "dup_in_batch",
                  4: "kept"}
    # evidence rows point at the store doc
    m = matches.collect()
    assert any(r.new_id == 1 and r.store_id == 100
               and r.est_jaccard >= 0.8 for r in m)
    # only kept-and-shingleable docs enter the store appendix
    assert {r.id for r in new_sigs.select("id").collect()} == {2}


def test_incremental_near_dup_empty_store(spark):
    from lindel_spark.dedup import incremental_near_dup
    batch = spark.createDataFrame(
        [(1, "one document with enough tokens to shingle properly")],
        "doc_id long, text string")
    status, new_sigs, matches = incremental_near_dup(batch, None)
    assert [r.status for r in status.collect()] == ["kept"]
    assert matches.count() == 0
    assert new_sigs.count() == 1


def test_incremental_near_dup_band_joins_not_cartesian(spark):
    from lindel_spark.dedup import (incremental_near_dup,
                                    minhash_signatures, word_shingles)
    store_docs = spark.createDataFrame(
        [(10, "historical corpus text number one for the store")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "fresh batch text that shares nothing with history")],
        "doc_id long, text string")
    sigs = minhash_signatures(store_docs.select(
        F.col("doc_id").alias("id"),
        word_shingles(F.col("text")).alias("sh")))
    status, _s, matches = incremental_near_dup(batch, sigs)
    for df in (status, matches):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_identical_cluster_collapsed_before_banding(spark):
    """Round-8 hardening: a large identical-doc cluster must NOT put
    cluster-sized buckets through the band self-join — exact dups are
    collapsed to one representative pre-banding and re-expanded after.
    Values: every intra-cluster pair present at jaccard exactly 1.0,
    cross near-dup pairs expanded to all member combinations."""
    n = 300
    rows = [(i, "the quick brown fox jumps over the lazy dog again")
            for i in range(n)]
    rows += [(1000 + i, "the quick brown fox jumps over the lazy cat again")
             for i in range(3)]
    rows.append((2000, "completely unrelated text about spark shuffles "
                       "and parquet row groups everywhere"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = LD.near_dup_pairs(docs, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # intra-cluster: all n*(n-1)/2 pairs, jaccard exactly 1.0
    intra = [(a, b) for (a, b) in got if a < 1000 and b < 1000]
    assert len(intra) == n * (n - 1) // 2
    assert all(got[p] == 1.0 for p in intra)
    # the small identical cluster too
    assert got[(1000, 1001)] == 1.0 and got[(1000, 1002)] == 1.0
    # cross-cluster near-dups expand to every member combination
    cross = [(a, b) for (a, b) in got if a < 1000 and b >= 1000]
    assert len(cross) == n * 3
    assert all(0.5 <= got[p] < 1.0 for p in cross)
    # the unrelated doc pairs with nothing
    assert all(2000 not in p for p in got)
    # and the banded intermediate saw ONE row per distinct text:
    # the candidate self-join's inputs are rep-sized, so the verified
    # rep-pair count is bounded by distinct-text pairs (3 texts -> <=3)


def test_global_rank_matches_total_order(spark):
    """global_rank's range-shuffle + map-enumeration plan must equal
    the naive single-task row_number under the same total order."""
    from pyspark.sql import Window

    from lindel_spark.util import global_rank

    df = spark.range(10000).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 9973).alias("key"))
    got = {r.id: r.rnk
           for r in global_rank(df, ["key", "id"], "rnk").collect()}
    w = Window.orderBy("key", "id")
    want = {r.id: r.rnk for r in df.withColumn(
        "rnk", F.row_number().over(w)).collect()}
    assert got == want


def test_sorted_neighborhood_pairs_values(spark):
    """SNM finds prefix-similar neighbors and scores exact Jaccard;
    pairs outside the window are not compared."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),   # near-dup of 1
        (3, "totally different text about spark parquet files here"),
        (4, "zzz unrelated tail words beyond anything else entirely"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in LD.sorted_neighborhood_pairs(
                 docs, window=2, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert 0.5 <= pairs[(1, 2)] < 1.0
    assert all(p == (1, 2) for p in pairs)


def test_global_rank_stable_across_executions_and_methods(spark):
    """Round-9: ranks must be IDENTICAL across repeated executions
    (the r8 sf1 bug was offsets from one execution applied to
    another's enumeration) and across input partitionings."""
    from lindel_spark.util import global_rank

    df = spark.range(20000).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 7919).alias("key"))
    a = {r.id: r.rnk
         for r in global_rank(df, ["key", "id"], "rnk").collect()}
    # same lazy frame re-executed: a fresh global_rank over a
    # RE-PARTITIONED copy of the same rows must agree value-for-value
    b = {r.id: r.rnk
         for r in global_rank(df.repartition(7), ["key", "id"],
                              "rnk").collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, 20001))


def test_global_rank_string_order_and_empty(spark):
    """Boundary path with a STRING leading order column (the SNM
    shape) and the empty-frame edge."""
    from pyspark.sql import Window

    from lindel_spark.util import global_rank

    df = spark.createDataFrame(
        [(i, f"doc {i % 97:03d} {'x' * (i % 5)}") for i in range(3000)],
        ["id", "t"])
    got = {r.id: r.rnk
           for r in global_rank(df, ["t", "id"], "rnk").collect()}
    want = {r.id: r.rnk for r in df.withColumn(
        "rnk", F.row_number().over(Window.orderBy("t", "id"))).collect()}
    assert got == want
    empty = global_rank(df.filter("id < 0"), ["t", "id"], "rnk")
    assert empty.count() == 0


def test_near_dup_hot_bucket_guard_raises(spark):
    """Round-9 verdict item 7: exact-collapse bounds IDENTICAL docs,
    but near-identical docs (distinct fingerprints, shared band keys)
    can still pile into one bucket and go quadratic. The guard must
    fail loudly with the bucket size and the fix, not grind through
    cap^2 candidates."""
    import pytest as _pytest

    base = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(i, base + f" tail{i}") for i in range(1000)],
        ["doc_id", "text"])
    bad = LD.near_dup_pairs(docs, max_band_bucket=100)
    with _pytest.raises(Exception, match="max_band_bucket"):
        bad.count()
    # None disables the guard: the quadratic bucket is accepted and
    # the pipeline still verifies pairs correctly
    ok = LD.near_dup_pairs(docs.limit(30), max_band_bucket=None)
    assert ok.count() > 0


def test_near_dup_guard_transparent_when_buckets_small(spark, docs):
    """With the default cap the guard must not change results on
    normal corpora: value-identical to the guard-disabled run."""
    a = sorted(map(tuple, LD.near_dup_pairs(docs).collect()))
    b = sorted(map(tuple,
                   LD.near_dup_pairs(docs, max_band_bucket=None)
                   .collect()))
    assert a == b and len(a) > 0


def test_prefix_filter_superset_of_lsh_and_exact(spark, docs):
    """Round-9: set_similarity_join is EXACT (prefix-filter theorem):
    its pairs must be a superset of the LSH path's verified pairs at
    the same threshold/elements, and every emitted jaccard must be
    >= threshold and match the LSH value where both found the pair."""
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in LD.set_similarity_join(
                 docs, threshold=0.8, shingle_k=3).collect()}
    lsh = {(r.id_a, r.id_b): r.jaccard
           for r in LD.near_dup_pairs(docs).collect()}
    assert set(lsh) <= set(exact)
    assert all(v >= 0.8 for v in exact.values())
    assert all(exact[k] == v for k, v in lsh.items())


def test_prefix_filter_matches_bruteforce_small(spark):
    """Ground truth on a corpus small enough to brute force: the
    prefix-filtered join must equal the all-pairs exact answer."""
    import itertools

    rows = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): round(r.jaccard, 12)
           for r in LD.set_similarity_join(df, threshold=0.5).collect()}
    toks = {i: set(t.split()) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(toks), 2):
        j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
        if j >= 0.5:
            want[(a, b)] = round(j, 12)
    assert got == want and len(want) > 0


def test_prefix_filter_plan_no_cartesian(spark, docs):
    """Candidate generation must stay a prefix-token equi-join."""
    p = LD.set_similarity_join(docs, threshold=0.8, shingle_k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------------------
# round-10: exact substring (duplicated-span) removal
# ---------------------------------------------------------------------------

def test_substring_dup_spans_excises_everywhere_but_owner(spark):
    """A shared 200-token span embedded in several docs survives ONLY
    in the owner (min doc id); unique surroundings stay; a doc that IS
    the span comes back empty; short/unique docs untouched."""
    span = " ".join(f"s{i}" for i in range(200))
    rows = [
        (1, f"alpha bravo {span} charlie delta"),
        (2, f"echo foxtrot golf {span}"),
        (3, span),                       # the bare span: fully covered
        (4, "totally unique words here nothing shared at all ok"),
        (5, "short doc"),                # < k tokens: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_removed)
           for r in LD.substring_dup_spans(df, k=8).collect()}
    assert got[1] == (f"alpha bravo {span} charlie delta", 0)  # owner
    assert got[2] == ("echo foxtrot golf", 200)
    assert got[3] == ("", 200)
    assert got[4][1] == 0
    assert got[5] == ("short doc", 0)


def test_substring_dup_spans_merges_overlapping_spans(spark):
    """Two duplicated spans overlapping in one doc merge through the
    covered-position union — tokens in the overlap are removed once,
    and the count is the union size, not the sum."""
    a = " ".join(f"a{i}" for i in range(12))   # span A: 12 tokens
    b = " ".join(f"b{i}" for i in range(12))   # span B: 12 tokens
    # doc 30 holds A and B adjacent: A's tail grams + B's head grams
    # are unique to doc 30, but A and B are each duplicated elsewhere
    rows = [
        (10, f"left context words here {a} right context words here"),
        (20, f"other context entirely {b} more other context words"),
        (30, f"{a} {b}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_removed)
           for r in LD.substring_dup_spans(df, k=8).collect()}
    assert got[10][1] == 0 and got[20][1] == 0   # owners keep
    assert got[30] == ("", 24)                    # A ∪ B fully excised


def test_substring_dup_spans_intra_doc_repeat_kept_in_owner(spark):
    """Cross-document semantics: a span repeated INSIDE the owner doc
    is kept there in full (intra-doc repetition is the Gopher
    repetition signal's job, not this operator's)."""
    s = " ".join(f"x{i}" for i in range(20))
    rows = [(1, f"{s} middle words between {s}"), (2, f"prefix {s} suffix")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_removed)
           for r in LD.substring_dup_spans(df, k=8).collect()}
    assert got[1][1] == 0
    assert got[2] == ("prefix suffix", 20)


def test_incremental_substring_dedup_against_store(spark):
    """Two-phase ingest: a span processed in batch 1 survives there;
    every batch-2 copy is excised via the STORE (no batch-2 owner is
    elected for a historical gram); batch-2-internal duplicates keep
    one batch copy; the returned new_grams extend the store so a third
    batch loses spans first seen in batch 2."""
    span = " ".join(f"h{i}" for i in range(30))
    span2 = " ".join(f"j{i}" for i in range(30))
    b1 = spark.createDataFrame(
        [(1, f"one unique intro {span} one unique outro"),
         (2, "totally unrelated historical words all different")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, f"fresh context {span} fresh ending"),       # store hit
         (11, f"{span2} alpha beta"),                      # batch owner
         (12, f"gamma delta {span2}")],                    # batch dup
        "doc_id long, text string")
    _c1, store = LD.incremental_substring_dedup(b1, None, k=8)
    c2, new_grams = LD.incremental_substring_dedup(b2, store, k=8)
    got = {r.doc_id: (r.text_clean, r.n_removed) for r in c2.collect()}
    assert got[10] == ("fresh context fresh ending", 30)
    assert got[11][1] == 0                      # batch owner keeps
    assert got[12] == ("gamma delta", 30)
    # a third batch re-using span2 loses it via the extended store
    store3 = store.unionByName(new_grams)
    b3 = spark.createDataFrame(
        [(20, f"third batch {span2} words")],
        "doc_id long, text string")
    c3, _ = LD.incremental_substring_dedup(b3, store3, k=8)
    r = c3.collect()[0]
    assert (r.text_clean, r.n_removed) == ("third batch words", 30)
    # full-corpus one-shot equals nothing here semantically (history
    # owns), but store rows must cover every batch-1 gram
    assert store.count() > 0


def test_keep_best_in_cluster_prefers_quality_over_id(spark):
    """The LOWER-quality lower-id member loses to the higher-quality
    higher-id member; singletons survive; exact ties break on id."""
    rows = [
        (1, "short copy of the same doc words one two three"),
        (2, "short copy of the same doc words one two three longer"),
        (3, "a completely unrelated document standing alone"),
        (4, "tie candidate aaaa"),
        (5, "tie candidate bbbb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4)], "id long, cluster long")
    scored = df.withColumn("score", F.length("text").cast("long"))
    kept = {r.doc_id for r in
            LD.keep_best_in_cluster(scored, clusters, "score").collect()}
    assert kept == {2, 3, 4}  # 2 beats 1 on length; 4 beats 5 on id tie


def test_canonicalize_text_cases(spark):
    from lindel_spark.text import canonicalize_text
    rows = [
        (1, "Hello,   World!"),
        (2, "hello world"),
        (3, "  Ünïcöde—Dash…test  "),
        (4, "中文 标点，保留 文字。"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: r.n for r in df.select(
        "id", canonicalize_text(F.col("t")).alias("n")).collect()}
    assert got[1] == "hello world" == got[2]
    assert got[3] == "ünïcöde dash test"
    assert got[4] == "中文 标点 保留 文字"
    assert got[5] == ""


# ---------------------------------------------------------------------------
# round 11: full BPE merge-training loop
# ---------------------------------------------------------------------------

def test_bpe_train_matches_hand_computed_sequence(spark):
    """The classic Sennrich corpus (low×5 lower×2 newest×6 widest×3):
    the merge sequence is hand-computable — pair counts, argmax with
    n-desc/left-asc/right-asc ties, leftmost-non-overlap application."""
    from lindel_spark.text import bpe_train, bpe_vocab
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    df = spark.createDataFrame([(" ".join(words),)], "text string")
    got = [(r.step, r.left, r.right, r.n)
           for r in bpe_train(df, num_merges=6).orderBy("step").collect()]
    assert got == [
        (1, "e", "s", 9),     # es:9 ties st:9 -> lexicographic
        (2, "es", "t", 9),
        (3, "l", "o", 7),     # lo:7 ties ow:7
        (4, "lo", "w", 7),
        (5, "e", "w", 6),     # ew:6 ties ne:6, (w,est):6
        (6, "ew", "est", 6),  # (ew,est) ties (n,ew)
    ]
    vocab = {r.symbol: r.n
             for r in bpe_vocab(df, num_merges=6).collect()}
    assert vocab == {"low": 7, "e": 2, "r": 2, "n": 6, "ewest": 6,
                     "w": 3, "i": 3, "d": 3, "est": 3}


def test_bpe_train_adjacent_overlap_is_leftmost_nonoverlapping(spark):
    """aaaa + merge(a,a) must become (aa)(aa), aaa must become (aa)(a)
    — the wrapped-symbol replace() preserves BPE's left-greedy
    convention across adjacent occurrences."""
    from lindel_spark.text import bpe_train, bpe_vocab
    df = spark.createDataFrame(
        [("aaaa aaaa aaa",)], "text string")
    m = bpe_train(df, num_merges=1).collect()
    # n counts every adjacent index (overlaps included — the Sennrich
    # statistic): 3 per 'aaaa' x2 words + 2 per 'aaa' = 8
    assert [(r.left, r.right, r.n) for r in m] == [("a", "a", 8)]
    # after merging: aaaa -> (aa,aa) x2 words, aaa -> (aa,a)
    vocab = {r.symbol: r.n for r in bpe_vocab(df, num_merges=1).collect()}
    assert vocab == {"aa": 5, "a": 1}


def test_bpe_train_nonalpha_pretokens_excluded(spark):
    """Digits/punctuation pretokens never enter the merge table (the
    alphabet stays disjoint from the wrapper byte for any input)."""
    from lindel_spark.text import bpe_train
    df = spark.createDataFrame(
        [("ab ab 12 12 12 !! ?? ab",)], "text string")
    m = bpe_train(df, num_merges=3).collect()
    assert [(r.left, r.right, r.n) for r in m] == [("a", "b", 3)]
    # loop stops early: nothing left to merge after (a,b)


def test_bpe_train_validates(spark):
    from lindel_spark.text import bpe_train
    df = spark.createDataFrame([("x",)], "text string")
    import pytest as _pt
    with _pt.raises(ValueError, match="num_merges"):
        bpe_train(df, num_merges=0)


def test_bpe_encode_applies_trained_merges(spark):
    """Apply ∘ train self-consistency on the Sennrich corpus: after 6
    merges, 'lowest' tokenizes [low, est] (merges learned from other
    words compose), digits/punct stay single tokens."""
    from lindel_spark.text import bpe_encode, bpe_train
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    train_df = spark.createDataFrame([(" ".join(words),)], "text string")
    merges = bpe_train(train_df, num_merges=6)
    apply_df = spark.createDataFrame(
        [(1, "lowest 42 !"), (2, "newest low"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
           for r in bpe_encode(apply_df, merges).collect()}
    # lowest -> low + est; '42' and '!' pass through unsplit
    assert got[1] == (["low", "est", "42", "!"], 4)
    # newest -> n + ewest (merges 1,2,5,6); low -> low (merges 3,4)
    assert got[2] == (["n", "ewest", "low"], 3)
    assert got[3] == ([], 0)


def test_bpe_encode_accepts_list_merges(spark):
    from lindel_spark.text import bpe_encode
    df = spark.createDataFrame([(7, "abab")], "doc_id long, text string")
    got = bpe_encode(df, [("a", "b"), ("ab", "ab")]).collect()[0]
    assert list(got.bpe_tokens) == ["abab"] and got.n_bpe_tokens == 1


def test_zipf_fit_recovers_constructed_power_law(spark):
    import math

    # exact Zipf corpus: token t_r appears round(1000/r) times ->
    # slope should land near -1 with high r2
    rows = []
    for r in range(1, 51):
        rows += [(" ".join([f"tok{r:03d}"] * round(1000 / r)),)]
    df = spark.createDataFrame(rows, ["text"])
    from lindel_spark.text import zipf_fit
    got = zipf_fit(df, top_n=50).collect()[0]
    assert got.n_points == 50
    assert abs(got.slope - (-1.0)) < 0.01
    assert got.r2 > 0.999
    # NumPy ground truth on the same points
    import numpy as np
    x = np.log(np.arange(1, 51, dtype=float))
    y = np.log(np.array([round(1000 / r) for r in range(1, 51)],
                        dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(got.slope - slope) < 1e-9
    assert abs(got.intercept - intercept) < 1e-9
    assert math.isfinite(got.r2)


def test_zipf_fit_validates(spark):
    import pytest

    from lindel_spark.text import zipf_fit
    df = spark.createDataFrame([("a b",)], ["text"])
    with pytest.raises(ValueError):
        zipf_fit(df, top_n=1)


def test_luhn_valid_hand_computed(spark):
    from pyspark.sql import functions as F

    from lindel_spark.text import luhn_valid

    cases = [
        ("4539 1488 0343 6467", True),   # Visa test PAN
        ("4539148803436467", True),      # no separators
        ("4539-1488-0343-6467", True),   # dashes
        ("1234 5678 9012 3456", False),  # fails mod-10
        ("4539 1488 0343 6468", False),  # one digit off
        ("79927398713", True),           # classic Luhn example
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], ["s"])
    got = [r.v for r in
           df.select(luhn_valid(F.col("s")).alias("v")).collect()]
    assert got == [w for _, w in cases]


def test_scrub_card_numbers_precision_and_recall(spark):
    from pyspark.sql import functions as F

    from lindel_spark.text import scrub_card_numbers

    rows = [
        # valid PAN scrubbed, invalid lookalike kept
        ("pay 4539 1488 0343 6467 now", "pay <CARD> now"),
        ("order 1234 5678 9012 3456 ok", "order 1234 5678 9012 3456 ok"),
        # two occurrences of the same valid PAN both go
        ("a 4539148803436467 b 4539148803436467",
         "a <CARD> b <CARD>"),
        # Luhn-valid but too short to be card-shaped: untouched
        ("a 79927398713 b", "a 79927398713 b"),
        # short digit runs untouched
        ("call 555 1234", "call 555 1234"),
        ("no digits here", "no digits here"),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], ["s"])
    got = [r.o for r in
           df.select(scrub_card_numbers(F.col("s")).alias("o"))
           .collect()]
    assert got == [w for _, w in rows]
