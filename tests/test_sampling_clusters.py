"""Deterministic sampling/split operators + connected-components dup
clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark.operators import sampling
from pyp_etl_pipeline_spark.operators.dedup import dup_clusters


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).select(F.col("id").alias("key"))


def test_hash_split_partitions_everything(spark, ids):
    out = sampling.hash_split(ids, "key", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    # binomial bounds, generous
    assert 1480 <= counts["train"] <= 1720
    assert 120 <= counts["val"] <= 280
    assert 120 <= counts["test"] <= 280


def test_hash_split_is_stable_and_keyed(spark, ids):
    a = {r["key"]: r["split"] for r in sampling.hash_split(ids, "key", {"a": 0.5, "b": 0.5}).collect()}
    b = {r["key"]: r["split"] for r in sampling.hash_split(ids, "key", {"a": 0.5, "b": 0.5}).collect()}
    assert a == b
    # growing the corpus must not move existing assignments
    bigger = spark.range(0, 4000).select(F.col("id").alias("key"))
    c = {r["key"]: r["split"] for r in sampling.hash_split(bigger, "key", {"a": 0.5, "b": 0.5}).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_hash_split_rejects_bad_fractions(spark, ids):
    with pytest.raises(ValueError, match="sum to 1"):
        sampling.hash_split(ids, "key", {"a": 0.5, "b": 0.2})


def test_deterministic_sample_fraction_and_subset(spark, ids):
    s10 = sampling.deterministic_sample(ids, "key", 0.10)
    s20 = sampling.deterministic_sample(ids, "key", 0.20)
    n10, n20 = s10.count(), s20.count()
    assert 120 <= n10 <= 280
    assert 300 <= n20 <= 520
    # smaller fraction is a strict subset of the bigger (bucket prefix)
    only10 = {r["key"] for r in s10.collect()}
    only20 = {r["key"] for r in s20.collect()}
    assert only10 <= only20


def test_stratified_fixed_n(spark):
    rows = [(i, "big" if i % 4 else "small") for i in range(400)]
    df = spark.createDataFrame(rows, "key long, stratum string")
    out = sampling.stratified_fixed_n(df, "stratum", "key", n=30)
    counts = {r["stratum"]: r["n"] for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 30, "small": 30}
    # deterministic: same pick every run
    again = sampling.stratified_fixed_n(df, "stratum", "key", n=30)
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in again.collect()}


def test_dup_clusters_components(spark):
    # components: {1,2,3,4} (chain), {10,11} (pair), {20,21,22} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dup_clusters_long_chain_converges(spark):
    # a 12-node path needs several propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert set(out.values()) == {0}
    assert len(out) == 13


def test_decontaminate_flags_overlap(spark):
    from pyp_etl_pipeline_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains bench 3-gram
            (2, "completely unrelated training text here now"),
            (3, "quick brown fox appears once more in this doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox story")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in decontaminate(corpus, bench).collect()}
    assert out[1]["contaminated"] and out[1]["n_overlapping_grams"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_overlapping_grams"] == 0
    assert out[3]["contaminated"]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    from pyp_etl_pipeline_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "b c d e")], "doc_id long, text string")
    plan = decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dup_clusters_exhaustion_raises_strict(spark):
    # a 12-node path cannot converge in 2 rounds; strict (default) raises
    # instead of silently returning mid-propagation labels
    import pytest as _pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, max_iterations=2).collect()


def test_dup_clusters_strict_needs_verification_round(spark):
    # strict=True with a 1-round budget can never certify convergence —
    # rejected up front rather than raising a spurious non-convergence
    # even on an already-converged graph
    import pytest as _pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="max_iterations >= 2"):
        dup_clusters(pairs, max_iterations=1)


def test_dup_clusters_exhaustion_partial_when_lenient(spark):
    # strict=False returns partial labels: every label must still be a
    # valid node id <= the node's own id (monotone progress, no garbage)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs, max_iterations=2, strict=False).collect()}
    assert len(out) == 13
    assert all(lbl <= node for node, lbl in out.items())
    assert set(out.values()) != {0}  # genuinely unconverged at 2 rounds


def _union_find_min_labels(pairs):
    """Reference components: every node of the pair graph labelled with
    the minimum id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {node: find(node) for node in parent}


def _assert_matches_union_find(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(df, max_iterations=40).collect()}
    assert got == _union_find_min_labels(pairs), f"divergence on pairs={pairs}"
    return got


# The three tests below keep the names they had when dup_clusters also
# offered a large-star/small-star strategy; their graphs now check the one
# hash-min path against a pure-Python union-find.


def test_star_components_equivalent_to_hashmin(spark):
    """Hash-min labels equal a pure-Python union-find's min-id labels on
    random graphs, a path (worst diameter), a hub (worst skew), a clique
    and a disjoint mixture with a self-loop."""
    import random

    cases = []
    for seed in (3, 17, 42, 99):
        rng = random.Random(seed)
        n = rng.randint(10, 50)
        m = rng.randint(5, 80)
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    cases.append([(i, i + 1) for i in range(25)])                    # path
    cases.append([(0, i) for i in range(1, 30)])                     # hub
    cases.append([(a, b) for a in range(8) for b in range(a + 1, 8)])  # clique
    cases.append([(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 32), (30, 32)])

    for pairs in cases:
        _assert_matches_union_find(spark, pairs)


def test_star_components_skewed_component(spark):
    # one viral hub fused with a chain: every node lands in cluster 0
    pairs = [(0, i) for i in range(1, 200)] + [(199, 200), (200, 201), (201, 202)]
    out = _assert_matches_union_find(spark, pairs)
    assert len(out) == 203
    assert set(out.values()) == {0}


def test_star_components_multi_parent_child_is_not_a_fixpoint(spark):
    """A graph with a child of two distinct parents, which once split one
    component into {1,5,6,7} / {2,4,8}: all seven nodes get cluster 1."""
    out = _assert_matches_union_find(spark, [(5, 7), (5, 8), (6, 7), (6, 1), (4, 8), (4, 2)])
    assert out == {1: 1, 2: 1, 4: 1, 5: 1, 6: 1, 7: 1, 8: 1}


def test_dup_clusters_propagation_join_is_sort_merge(spark):
    """The propagation join runs as a sort-merge join, never as the
    broadcast join AQE would otherwise switch it to at run time once the
    label stage comes out small: that switch adds a job to the batch, so
    one input's job count varied from run to run."""
    from pyp_etl_pipeline_spark.plan_audit import capture_checkpoint_plans

    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    stages: list[dict] = []
    with capture_checkpoint_plans(stages):
        dup_clusters(pairs).collect()
    batches = [s["final"] for s in stages if "min(own" in s["analyzed"]]
    assert batches
    for plan in batches:
        ran = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in ran
        assert "BroadcastHashJoin" not in ran


def test_dup_clusters_anchors_pairs_edges_and_each_batch(spark):
    """Two eager anchors (pair list, edge list) plus one lazy anchor per
    convergence batch: the initial label relation is read only by the
    first batch, inside one plan, so it is not checkpointed. On a 7-node
    chain the labels settle at round 6, the batch ending at round 7
    still sees that change, and the batch ending at round 9 certifies
    the fixpoint: 4 batches."""
    from pyp_etl_pipeline_spark.plan_audit import capture_checkpoint_plans

    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    stages: list[dict] = []
    with capture_checkpoint_plans(stages):
        out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {i: 0 for i in range(7)}
    batches = sum("min(own" in s["analyzed"] for s in stages)
    assert batches == 4
    assert len(stages) == 2 + batches


def test_mix_corpora_rates_and_determinism(spark):
    d = spark.range(0, 600).select(F.col("id").alias("doc_id"))
    srcs = [("a", d, 2.0), ("b", d, 0.5), ("c", d, 0.0)]
    m = sampling.mix_corpora(srcs, "doc_id")
    counts = {r["source"]: r["n"] for r in m.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 1200  # integral rate: exact
    assert 240 <= counts["b"] <= 360  # keyed-hash half
    assert "c" not in counts  # rate 0 contributes nothing
    # deterministic re-run
    again = {r["source"]: r["n"] for r in sampling.mix_corpora(srcs, "doc_id").groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert again == counts
    # copy indexes are dense 0..n-1 per doc
    per_doc = sampling.mix_corpora([("a", d, 2.3)], "doc_id").groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("copy").alias("mx"), F.min("copy").alias("mn")
    )
    bad = per_doc.filter((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)).count()
    assert bad == 0


def test_mix_corpora_unions_by_name_with_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    b = spark.createDataFrame([(2,)], "doc_id long")
    out = sampling.mix_corpora([("a", a, 1.0), ("b", b, 1.0)], "doc_id").collect()
    rows = {(r["doc_id"], r["source"], r["text"]) for r in out}
    assert rows == {(1, "a", "x"), (2, "b", None)}


def test_decontaminate_spans_surgical_removal(spark):
    from pyp_etl_pipeline_spark.operators import dedup

    bench = spark.createDataFrame(
        [(100, "the secret eval question answer key")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # doc 1: one contaminated span (quotes the eval), one clean
            (1, "the secret eval question answer key padding pad pad pad clean words only here nothing shared at all"),
            # doc 2: fully clean
            (2, "completely unrelated text with no overlap whatsoever in any gram"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.decontaminate_spans(corpus, bench, k=10).collect()}
    assert out[1]["n_spans"] == 2 and out[1]["n_clean"] == 1
    assert out[1]["text"] == "clean words only here nothing shared at all"
    assert out[2]["n_clean"] == out[2]["n_spans"] and out[2]["text"] == corpus.collect()[1]["text"]


def test_grouped_prefix_sum_matches_sequential(spark):
    """The shared deterministic two-pass scan must equal a sequential
    cumsum for every group/ordering, under any shuffle-partition count."""
    from pyp_etl_pipeline_spark.operators.prefix import grouped_prefix_sum

    rows = [(g, i, (i * 13 + gi) % 7 + 1) for gi, g in enumerate(("a", "b")) for i in range(50)]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    want = {}
    for g in ("a", "b"):
        run = 0
        for i in range(50):
            run += (i * 13 + (0 if g == "a" else 1)) % 7 + 1
            want[(g, i)] = run
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for sp in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", sp)
            out = grouped_prefix_sum(
                df.repartition(5), "v", "k", group_cols=("g",)
            ).collect()
            got = {(r["g"], r["k"]): r["cum"] for r in out}
            assert got == want, sp
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # static-bounds path, no groups
    one = grouped_prefix_sum(
        df.filter("g = 'a'"), "v", "k", bounds=(0, 50)
    ).collect()
    assert {(r["k"]): r["cum"] for r in one} == {i: want[("a", i)] for i in range(50)}


def test_grouped_prefix_sum_nonnumeric_order_keys(spark):
    """ADVICE r7: date/string order keys once silently collapsed to ONE
    bucket (the single-partition window the module exists to avoid). Now
    they get monotone numeric projections — results must still equal the
    sequential cumsum, and the bucketing must actually spread rows."""
    import datetime

    from pyspark.sql import functions as F

    from pyp_etl_pipeline_spark.operators.prefix import grouped_prefix_sum

    # date keys
    rows = [(datetime.date(2020, 1, 1) + datetime.timedelta(days=i), i % 7 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "d date, v long")
    got = {r["d"]: r["cum"] for r in grouped_prefix_sum(df.repartition(5), "v", "d").collect()}
    run = 0
    for d, v in rows:
        run += v
        assert got[d] == run
    # the projection must produce >1 bucket (no silent degradation)
    n_pids = (
        df.select(F.unix_date("d").cast("double").alias("od"))
        .agg(F.count_distinct(F.expr("least(floor((od - 18262) / 200 * 8), 7)")))
        .collect()[0][0]
    )
    assert n_pids > 1

    # string keys: cum must follow Spark's own string sort order
    srows = [(f"k{i:04d}", i % 5 + 1) for i in range(150)]
    sdf = spark.createDataFrame(srows, "s string, v long")
    sgot = {r["s"]: r["cum"] for r in grouped_prefix_sum(sdf.repartition(7), "v", "s").collect()}
    run = 0
    for s, v in sorted(srows):
        run += v
        assert sgot[s] == run
    # multibyte strings keep monotone byte order too
    mrows = [("a", 1), ("aa", 2), ("b", 3), ("ß", 4), ("日本", 5), ("日本語", 6)]
    mdf = spark.createDataFrame(mrows, "s string, v long")
    mgot = {r["s"]: r["cum"] for r in grouped_prefix_sum(mdf, "v", "s").collect()}
    run = 0
    for s, v in sorted(mrows):
        run += v
        assert mgot[s] == run

    # timestamp keys (epoch-seconds projection) and NULL order keys
    # (bucket 0, sorted first — previously DROPPED at the offsets join)
    trows = [(datetime.datetime(2021, 1, 1) + datetime.timedelta(minutes=7 * i), i % 4 + 1) for i in range(100)]
    tdf = spark.createDataFrame(trows, "t timestamp, v long")
    tgot = {r["t"]: r["cum"] for r in grouped_prefix_sum(tdf.repartition(6), "v", "t").collect()}
    run = 0
    for t, v in trows:
        run += v
        assert tgot[t] == run
    ndf = spark.createDataFrame([(None, 5), (1, 1), (2, 2)], "k int, v long")
    ngot = {r["k"]: r["cum"] for r in grouped_prefix_sum(ndf, "v", "k").collect()}
    assert len(ngot) == 3  # the NULL-key row survives
    assert ngot[None] == 5 and ngot[1] == 6 and ngot[2] == 8


def test_budget_fill_contract(spark):
    """Greedy fill in keyed-hash order: selected = exactly the prefix of
    the hash-ordered docs whose exclusive cumsum is < budget; per group;
    deterministic across reruns."""
    from pyp_etl_pipeline_spark.operators import sampling

    rows = [(g, i, 10 + (i % 5)) for g in ("x", "y") for i in range(40)]
    df = spark.createDataFrame(rows, "src string, doc long, w long")
    out = sampling.budget_fill(df, "doc", "w", budget=100, group_cols=("src",))
    got = {(r["src"], r["doc"]): r for r in out.collect()}

    # python reference with the same hash order
    import hashlib

    def bucket(key):
        return int(hashlib.md5(f"{key}budget-v1".encode()).hexdigest()[:7], 16) % (1 << 20)

    for g in ("x", "y"):
        docs = sorted(((bucket(i), i) for i in range(40)))
        run, want = 0, set()
        for _, i in docs:
            if run < 100:
                want.add(i)
            run += 10 + (i % 5)
        have = {d for (s, d) in got if s == g}
        assert have == want, g
        # budget met (greedy overflow rule)
        assert sum(10 + (i % 5) for i in have) >= 100
    again = {(r["src"], r["doc"]) for r in
             sampling.budget_fill(df, "doc", "w", budget=100, group_cols=("src",)).collect()}
    assert again == set(got)


def test_pagerank_integer_exact_star_graph(spark):
    """Hand-checkable star graph: hub <-> 3 leaves, 1 iteration. All
    integer arithmetic, so values are exact; a second run and a
    different input partitioning must reproduce them bit-for-bit."""
    from pyp_etl_pipeline_spark.operators import graph

    # hub=0, leaves=1,2,3; bidirectional star
    edges = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    pr = {r["node"]: r["pr"] for r in graph.pagerank(df, n_iter=1).collect()}
    unit = 10**12 // 4  # 250_000_000_000
    base = (15 * unit) // 100
    # hub receives each leaf's full rank (deg 1): 3 * (unit // 1)
    assert pr[0] == base + (85 * (3 * unit)) // 100
    # each leaf receives hub_rank // 3
    assert pr[1] == pr[2] == pr[3] == base + (85 * (unit // 3)) // 100
    again = {r["node"]: r["pr"] for r in
             graph.pagerank(df.repartition(7), n_iter=1).collect()}
    assert again == pr
    # hub dominates after 2 iterations too
    pr2 = {r["node"]: r["pr"] for r in graph.pagerank(df, n_iter=2).collect()}
    assert pr2[0] > pr2[1]


def _pagerank_reference(edges, n_iter, keep=85):
    """Pure-Python PageRank under the operator's integer contract:
    ``mass DIV N`` start, ``pr DIV deg`` per edge, next rank
    ``((100 - keep) * unit) DIV 100 + (keep * sum) DIV 100``."""
    from collections import Counter

    nodes = {n for edge in edges for n in edge}
    unit = 10**12 // len(nodes)
    deg = Counter(src for src, _ in edges)
    pr = dict.fromkeys(nodes, unit)
    for _ in range(n_iter):
        sums = Counter()
        for src, dst in edges:
            sums[dst] += pr[src] // deg[src]
        pr = {n: ((100 - keep) * unit) // 100 + (keep * sums[n]) // 100 for n in nodes}
    return pr


def test_pagerank_matches_python_reference(spark):
    """Exact ranks equal the pure-Python reference for 0, 1, 3 and 5
    rounds on a random directed graph with dangling nodes (50, 51: no
    out-edges), a source-only node (60: no in-edges) and parallel edges."""
    import random

    from pyp_etl_pipeline_spark.operators import graph

    rng = random.Random(1201)
    edges = [(rng.randrange(12), rng.randrange(12)) for _ in range(40)]
    edges += [edges[0], edges[1], (3, 50), (7, 50), (1, 51), (60, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for n_iter in (0, 1, 3, 5):
        got = {r["node"]: r["pr"] for r in graph.pagerank(df, n_iter=n_iter).collect()}
        assert got == _pagerank_reference(edges, n_iter), n_iter


@pytest.mark.parametrize("n_iter", [1, 3])
def test_pagerank_anchors_only_the_edge_list(spark, n_iter):
    """One checkpoint whatever the round count: the edge list is anchored
    and the rounds run as one plan."""
    from pyp_etl_pipeline_spark.operators import graph
    from pyp_etl_pipeline_spark.plan_audit import capture_checkpoint_plans

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")
    stages: list[dict] = []
    with capture_checkpoint_plans(stages):
        graph.pagerank(df, n_iter=n_iter).collect()
    assert len(stages) == 1


def test_hll_distinct_accuracy_and_determinism(spark):
    """256-register HLL over a known cardinality: estimate within the
    ~3x standard-error envelope, bit-identical across reruns and input
    partitionings, and register state bounded at 2^p."""
    from pyspark.sql import functions as F

    from pyp_etl_pipeline_spark.operators import sketch

    n = 5000
    df = spark.createDataFrame(
        [(i % 7, f"user-{i}") for i in range(n * 3)], "g int, v string"
    ).filter("g < 1")  # one group, each v appears once..thrice
    out = sketch.hll_distinct(df, "v", group_cols=("g",)).collect()
    assert len(out) == 1
    r = out[0]
    distinct_true = len({i for i in range(n * 3) if i % 7 == 0})
    rel_err = abs(r["est_distinct"] - distinct_true) / distinct_true
    assert rel_err < 0.2, (r["est_distinct"], distinct_true)
    assert r["n_registers_hit"] <= 256
    again = sketch.hll_distinct(df.repartition(9), "v", group_cols=("g",)).collect()[0]
    assert (again["harmonic_scaled"], again["est_distinct"]) == (
        r["harmonic_scaled"], r["est_distinct"],
    )


def test_cms_overestimates_and_bounded_state(spark):
    """Count-min invariants: sketch state is at most depth*width rows;
    every point estimate >= the true count; for a stream much smaller
    than a row's width, estimates are exact."""
    from pyspark.sql import functions as F

    from pyp_etl_pipeline_spark.operators import sketch

    rows = [(f"t{i % 30}",) for i in range(900)]
    df = spark.createDataFrame(rows, "tok string")
    sk = sketch.cms_token_counts(df, depth=3, width=64)
    assert sk.count() <= 3 * 64
    q = df.distinct()
    est = {r["tok"]: r["n_cms"] for r in sketch.cms_estimate(sk, q, depth=3, width=64).collect()}
    assert all(est[f"t{i}"] >= 30 for i in range(30))
    # with width=2048 >> 30 tokens collisions vanish: exact recovery
    sk2 = sketch.cms_token_counts(df, depth=3, width=2048)
    est2 = {r["tok"]: r["n_cms"]
            for r in sketch.cms_estimate(sk2, q, depth=3, width=2048).collect()}
    assert all(v == 30 for v in est2.values())


def test_epoch_shuffle_reproducible_and_decorrelated(spark):
    from pyp_etl_pipeline_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    e0a = sorted(map(tuple, epoch_shuffle(df, epoch=0).collect()))
    e0b = sorted(map(tuple, epoch_shuffle(df.repartition(7), epoch=0).collect()))
    assert e0a == e0b  # crash-resume reproducibility, layout-independent
    e1 = sorted(map(tuple, epoch_shuffle(df, epoch=1).collect()))
    # same content set, different training order/shards
    assert {r[0] for r in e0a} == {r[0] for r in e1}
    order0 = sorted((r[2], r[0]) for r in e0a)  # (order_key, doc_id)
    order1 = sorted((r[2], r[0]) for r in e1)
    assert [d for _, d in order0] != [d for _, d in order1]
    shards0 = {r[0]: r[3] for r in e0a}
    shards1 = {r[0]: r[3] for r in e1}
    assert any(shards0[d] != shards1[d] for d in shards0)


def test_triangle_stats_known_graphs(spark):
    from pyp_etl_pipeline_spark.operators.graph import triangle_stats

    # K4: 4 triangles, 6 edges, 12 wedges, gcc = 1
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    r = triangle_stats(k4).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 6, 12, 4)
    assert r["gcc_micro"] == 1_000_000

    # hub star (no triangles) + one closed triangle hanging off it;
    # duplicate + reversed edges must canonicalize away
    edges = [(0, i) for i in range(1, 6)] + [(1, 2), (2, 1), (1, 2), (10, 11), (11, 12), (10, 12)]
    g = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_stats(g).collect()[0]
    assert r["n_triangles"] == 2  # (0,1,2) and (10,11,12)
    assert r["n_edges"] == 5 + 1 + 3
    # partition invariance
    again = triangle_stats(g.repartition(5)).collect()[0]
    assert tuple(r) == tuple(again)


def test_bloom_no_false_negatives_and_merge(spark):
    from pyp_etl_pipeline_spark.operators import sketch

    members = spark.createDataFrame([(f"item{i}",) for i in range(300)], "v string")
    others = spark.createDataFrame([(f"other{i}",) for i in range(300)], "v string")
    bloom = sketch.bloom_build(members, "v", n_bits=4096, k=4)
    # every member MUST probe positive (the Bloom guarantee)
    got = sketch.bloom_probe(members, bloom, "v", n_bits=4096, k=4)
    assert all(r["might_contain"] for r in got.collect())
    # non-members mostly negative (fp rate bounded; 4096 bits / 300*4 set -> low)
    neg = sketch.bloom_probe(others, bloom, "v", n_bits=4096, k=4).collect()
    fp = sum(1 for r in neg if r["might_contain"])
    assert fp < 30
    # merge property: union-built filter == bit_or of the two halves
    h1 = sketch.bloom_build(members.filter("v < 'item2'"), "v", n_bits=4096, k=4)
    h2 = sketch.bloom_build(members.filter("v >= 'item2'"), "v", n_bits=4096, k=4)
    from pyspark.sql import functions as F

    merged = h1.unionByName(h2).groupBy("word").agg(F.bit_or("bits").alias("bits"))
    direct = {r["word"]: r["bits"] for r in bloom.collect()}
    assert {r["word"]: r["bits"] for r in merged.collect()} == direct


def test_bloom_probe_duplicate_rows_no_false_negative(spark):
    """ADVICE r7: duplicate probe rows once collapsed into one group where
    sum(hit)=2k != k → a FALSE NEGATIVE for an item that IS in the filter.
    Probing is now per-row (no aggregation): duplicates keep their
    multiplicity and each copy probes positive."""
    from pyp_etl_pipeline_spark.operators import sketch

    members = spark.createDataFrame([("itemA",), ("itemB",)], "v string")
    bloom = sketch.bloom_build(members, "v", n_bits=4096, k=4)
    dup = spark.createDataFrame([("itemA",), ("itemA",), ("itemB",)], "v string")
    got = sketch.bloom_probe(dup, bloom, "v", n_bits=4096, k=4).collect()
    assert len(got) == 3  # multiplicity preserved
    assert all(r["might_contain"] for r in got)


def test_mx03_largest_remainder_allocation(spark, sf_dir):
    """The temperature mixture must apportion EXACTLY the budget (the
    whole point of largest-remainder), monotonically in weight, with at
    most 1 token difference from the unrounded share."""
    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY

    fn, _ = REGISTRY["mx03_temperature_mixture"]
    rows = fn(spark, sf_dir).collect()
    assert sum(r["alloc_tokens"] for r in rows) == 100_000
    # monotone: a strictly heavier source never gets fewer tokens
    by_w = sorted(rows, key=lambda r: (r["weight"], r["alloc_tokens"]))
    for a, b in zip(by_w, by_w[1:]):
        if b["weight"] > a["weight"]:
            assert b["alloc_tokens"] >= a["alloc_tokens"]
    # each allocation within 1 of the exact tempered share
    import math

    ms = {r["source"]: math.floor(math.sqrt(r["weight"]) * 1e6 + 0.5) for r in rows}
    s = sum(ms.values())
    for r in rows:
        exact = 100_000 * ms[r["source"]] / s
        assert abs(r["alloc_tokens"] - exact) < 1.0 + 1e-9, r


def test_ks01_keeper_is_best_member(spark, sf_dir):
    """Every cluster's keeper must be its max-n_chars member (ties to
    the smaller doc_id), exactly one keeper per cluster, all members
    agreeing on it."""
    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY

    fn, _ = REGISTRY["ks01_keep_best_per_cluster"]
    rows = fn(spark, sf_dir).collect()
    by_c: dict = {}
    for r in rows:
        by_c.setdefault(r["cluster_id"], []).append(r)
    assert by_c
    for cid, members in by_c.items():
        best = min(members, key=lambda r: (-r["n_chars"], r["doc_id"]))
        assert all(r["keeper_id"] == best["doc_id"] for r in members), cid
        assert sum(1 for r in members if r["kept"]) == 1
        assert next(r for r in members if r["kept"])["doc_id"] == best["doc_id"]


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    from pyp_etl_pipeline_spark.operators.sampling import weighted_sample

    rows = [(i, 1 if i < 90 else 1000) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = [r["doc_id"] for r in weighted_sample(df, "w", k=10).collect()]
    b = [r["doc_id"] for r in weighted_sample(df.repartition(7), "w", k=10).collect()]
    assert a == b  # deterministic under any layout
    # the 10 heavy items (1000x weight) should dominate the sample
    heavy = sum(1 for d in a if d >= 90)
    assert heavy >= 8
    # zero-weight rows can never be selected
    z = spark.createDataFrame([(1, 0), (2, 5)], "doc_id long, w long")
    assert [r["doc_id"] for r in weighted_sample(z, "w", k=5).collect()] == [2]


def test_bfs_levels_chain_and_multisource(spark):
    """Hand-checkable path graph 0-1-2-3-4-5 (bidirectional): dist from
    seed 0 is the index, capped at max_hops; unreachable nodes absent;
    a second seed makes dist the MIN over seeds; results identical
    under a different input partitioning (pure set algebra)."""
    from pyp_etl_pipeline_spark.operators import graph

    chain = [(i, i + 1) for i in range(5)] + [(i + 1, i) for i in range(5)]
    e = spark.createDataFrame(chain, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in graph.bfs_levels(e, seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5 beyond the cap

    both = spark.createDataFrame([(0,), (5,)], "node long")
    got2 = {r["node"]: r["dist"] for r in graph.bfs_levels(e, both, max_hops=3).collect()}
    assert got2 == {0: 0, 5: 0, 1: 1, 4: 1, 2: 2, 3: 2}

    again = {r["node"]: r["dist"]
             for r in graph.bfs_levels(e.repartition(7), seeds, max_hops=3).collect()}
    assert again == got

    # early exit: isolated seed expands nowhere but keeps dist 0
    iso = spark.createDataFrame([(99,)], "node long")
    assert {r["node"]: r["dist"] for r in graph.bfs_levels(e, iso, max_hops=3).collect()} == {99: 0}


def test_heavy_hitters_exact_threshold_and_partition_independence(spark):
    """Zipf-ish stream: the k=10 threshold (n/10 = 72) keeps exactly the
    two genuinely heavy tokens with their EXACT counts, drops the
    100-token tail, ignores nulls, and — the core contract — returns
    the identical result under any partitioning/batching, because the
    candidate pass is a guaranteed superset and the final filter uses
    exact global counts."""
    from pyp_etl_pipeline_spark.operators import sketch

    rows = [("a",)] * 500 + [("b",)] * 120 + [(f"tail{i}",) for i in range(100)] + [(None,)] * 9
    df = spark.createDataFrame(rows, "tok string")
    got = {r["tok"]: r["cnt"] for r in sketch.heavy_hitters(df, "tok", k=10).collect()}
    assert got == {"a": 500, "b": 120}  # n=720 (nulls excluded), threshold 72

    for parts in (1, 13):
        again = {r["tok"]: r["cnt"]
                 for r in sketch.heavy_hitters(df.repartition(parts), "tok", k=10).collect()}
        assert again == got

    # k=1: only a token with frequency == n qualifies; none here
    assert sketch.heavy_hitters(df, "tok", k=1).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError):
        sketch.heavy_hitters(df, "tok", k=0)


def test_heavy_hitters_numeric_item_column(spark):
    from pyp_etl_pipeline_spark.operators import sketch

    # ADVICE r8: the candidate schema was hardcoded to string, breaking
    # numeric item columns — pin that a BIGINT column round-trips with
    # exact counts and type
    rows = [(7,)] * 80 + [(11,)] * 15 + [(i,) for i in range(100, 105)]
    df = spark.createDataFrame(rows, "user_id long")
    out = {r["user_id"]: r["cnt"] for r in sketch.heavy_hitters(df, "user_id", k=10).collect()}
    assert out == {7: 80, 11: 15}
    dt = sketch.heavy_hitters(df, "user_id", k=10).schema["user_id"].dataType.simpleString()
    assert dt == "bigint"
