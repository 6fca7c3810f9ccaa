"""Union-find canonicalization, checkpoint/resume, chunked skew capping."""

import pytest

from waka_spark.plans.checkpoint import CheckpointManager, run_checkpointed
from waka_spark.plans.unionfind import canonicalize_graph, connected_components


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert "z" not in comp  # self-loop: isolated, caller coalesces


def test_connected_components_chain(spark):
    # longer diameter exercises the iteration + convergence check
    chain = [(f"n{i}", f"n{i+1}") for i in range(12)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {"n0"}


def test_incremental_components_matches_full_rebuild(spark):
    """Delta fold-in == full rebuild, covering every merge shape: two old
    components bridged, a new node joining an old component, a new-only
    component, a no-op intra-component edge, and a new-node self-loop."""
    from waka_spark.plans.unionfind import incremental_components

    base = [("b", "a"), ("c", "b"), ("y", "x"), ("q", "p")]
    delta = [
        ("c", "x"),   # bridges {a,b,c} with {x,y} → min label "a"
        ("z1", "p"),  # new node joins {p,q}
        ("w1", "w2"),  # brand-new component
        ("q", "p"),   # intra-component no-op
        ("v9", "v9"),  # new-node self-loop → singleton
    ]
    edges = spark.createDataFrame(base, "src string, dst string")
    d = spark.createDataFrame(delta, "src string, dst string")

    labels = connected_components(edges)
    inc = {r.node: r.component
           for r in incremental_components(labels, d).collect()}
    full = {r.node: r.component
            for r in connected_components(edges.unionByName(d)).collect()}
    # full rebuild drops the v9 self-loop singleton; incremental keeps it
    # as its own component (callers coalesce either way)
    assert inc.pop("v9") == "v9"
    assert inc == full


def test_incremental_components_relabel_is_broadcast(spark):
    """The pass over the standing labels table must be a broadcast hash
    join on the delta-sized mapping — never a shuffle of the big side."""
    from waka_spark.plans.unionfind import incremental_components

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "src string, dst string")
    d = spark.createDataFrame([("n0", "m0")], "src string, dst string")
    out = incremental_components(connected_components(edges), d)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_canonicalize_graph_rewrites_and_dedups(spark):
    triples = spark.createDataFrame(
        [
            ("c1", "Q1", "P1", "Q2", 0.9),
            ("c2", "Q1b", "P1", "Q2", 0.5),   # Q1b same-as Q1 → dedups with above
            ("c3", "Q1", "P1", "Q1b", 0.7),   # collapses to self-loop → dropped
        ],
        "conv_id string, subj_url string, pred_url string, obj_url string, score double",
    )
    same_as = spark.createDataFrame([("Q1", "Q1b")], "src string, dst string")
    canon, mapping = canonicalize_graph(triples, same_as)
    rows = canon.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.subj_url, r.obj_url) == ("Q1", "Q2")
    assert r.score == 0.9 and r.support == 2
    assert sorted(r.conv_ids) == ["c1", "c2"]


@pytest.fixture
def synth_small(spark):
    from waka_spark import synth
    from waka_spark.plans.pipeline import KGPipeline

    kb = synth.build_kb(20)
    pipe = KGPipeline(
        aliases=synth.aliases_df(spark, kb),
        properties=synth.properties_df(spark),
        gazetteer=synth.gazetteer(kb),
        rules=synth.rules_df(spark, kb),
        use_scorers=False,
    )
    transcripts = synth.synth_transcripts(
        spark, kb, n_convs=6, hot_every=5, hot_turns=12, base_turns=5)
    return pipe, transcripts


def test_checkpoint_resume(spark, synth_small, tmp_path):
    pipe, transcripts = synth_small

    m1 = CheckpointManager(spark, str(tmp_path), "run-A")
    out1 = run_checkpointed(pipe, transcripts, m1)
    t1 = sorted(
        (r.subj_url, r.pred_url, r.obj_url)
        for r in out1["triples"].collect()
    )
    assert m1.stages_run and not m1.stages_resumed
    assert m1.manifest("documents")["rows_out"] == 6
    assert m1.manifest("documents")["partitions"]  # per-partition counters

    # resume: same run_id → every stage loads from its checkpoint
    m2 = CheckpointManager(spark, str(tmp_path), "run-A")
    out2 = run_checkpointed(pipe, transcripts, m2)
    t2 = sorted(
        (r.subj_url, r.pred_url, r.obj_url)
        for r in out2["triples"].collect()
    )
    assert not m2.stages_run and len(m2.stages_resumed) >= 8
    assert t1 == t2


def test_checkpoint_partial_resume(spark, synth_small, tmp_path):
    """Kill-and-resume: only some stages committed → resume recomputes the
    rest and the final tables are identical to an uninterrupted run."""
    pipe, transcripts = synth_small

    # simulate a run killed after two stages
    m_partial = CheckpointManager(spark, str(tmp_path), "run-B")
    docs = m_partial.stage("documents", lambda: pipe.documents(transcripts))
    m_partial.stage("mentions", lambda: pipe.mentions(docs))

    m_resume = CheckpointManager(spark, str(tmp_path), "run-B")
    out = run_checkpointed(pipe, transcripts, m_resume)
    assert m_resume.stages_resumed[:2] == ["documents", "mentions"]
    assert "candidates" in m_resume.stages_run

    m_fresh = CheckpointManager(spark, str(tmp_path), "run-C")
    fresh = run_checkpointed(pipe, transcripts, m_fresh)
    got = sorted(map(tuple, out["triples"]
                     .select("subj_url", "pred_url", "obj_url").collect()))
    want = sorted(map(tuple, fresh["triples"]
                      .select("subj_url", "pred_url", "obj_url").collect()))
    assert got == want


def test_unionfind_long_chain_converges_fast(spark):
    """A 300-node chain converges under a 20-round budget: pointer jumping
    makes rounds O(log diameter), where plain min-propagation would need
    ~300 rounds."""
    from waka_spark.plans.unionfind import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(300)],
        "src string, dst string",
    )
    got = connected_components(edges, max_iter=20).collect()
    assert len(got) == 301
    assert {r.component for r in got} == {"n0000"}


def test_bucketed_join_is_exchange_and_sort_free(spark, tmp_path):
    """Both sides bucketed+sorted on the join key with equal bucket
    counts: the sort-merge join must run with NO Exchange and NO Sort —
    the co-located join shape nodes/edges rely on at 10^12 turns."""
    import uuid

    from pyspark.sql import functions as F

    from waka_spark.plans.bucketing import bucketed_join, write_bucketed

    tag = uuid.uuid4().hex[:8]
    nodes_t, edges_t = f"nodes_{tag}", f"edges_{tag}"
    nodes = spark.range(200).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 7).alias("deg"))
    edges = spark.range(600).select(
        F.concat(F.lit("u"), (F.col("id") % 200)).alias("url"),
        F.col("id").alias("edge_id"))

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(nodes, nodes_t, "url", n_buckets=4)
        write_bucketed(edges, edges_t, "url", n_buckets=4)

        joined = bucketed_join(spark, edges_t, nodes_t, "url")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # the scans must be recognized as bucketed (that's what elides
        # the exchange); the residual in-partition Sort is expected —
        # Spark 3+ ignores sortBy metadata on read unless the legacy
        # bucketedTableScan.outputOrdering conf is on (see bucketing.py)
        assert plan.count("Bucketed: true") == 2
        assert joined.count() == 600
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {nodes_t}")
        spark.sql(f"DROP TABLE IF EXISTS {edges_t}")


def test_iterative_ops_release_superseded_round_state(spark):
    """Iterative algorithms must not accumulate one checkpoint per round:
    after each returns, executor storage may hold ONLY the returned
    frame's blocks (plus any caller-owned persists from other tests) —
    at 10^9-node scale a 25-round leak evicts the rest of the job's
    cached state. plans/iterate.py is the mechanism."""
    from pyspark.sql import functions as F

    from waka_spark.operators.ann import mmr_topk
    from waka_spark.operators.graph import (
        bfs_distances, hits, k_core, k_truss, label_propagation, pagerank,
        personalized_pagerank)
    from waka_spark.plans.unionfind import connected_components

    def n_persistent():
        return len(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 40}") for i in range(40)]
        + [(f"n{i}", f"n{(i + 7) % 40}") for i in range(40)],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    # a 5-clique hung on the ring: k_truss peels the ring edges in round
    # 1 and keeps the clique, so its per-round triangle enumerations
    # (internal checkpoints) must be released too
    dense = edges.unionByName(spark.createDataFrame(
        [(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)],
        "src string, dst string"))
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5) + 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "q_id long, q_vec array<double>")

    for fn in (
        lambda: connected_components(edges),
        lambda: pagerank(edges, n_iter=5),
        lambda: personalized_pagerank(edges, seeds, n_iter=4),
        lambda: hits(edges, n_iter=4),
        lambda: bfs_distances(edges, seeds, n_iter=4),
        lambda: label_propagation(edges, n_iter=4),
        lambda: k_core(edges, k=2, n_iter=4),
        lambda: k_truss(dense, k=4, n_iter=3),
        lambda: mmr_topk(emb, queries, k=3, n_candidates=6),
    ):
        before = n_persistent()
        result = fn()
        rows = result.count()  # returned frame stays usable post-release
        assert rows > 0
        # exactly the returned frame's checkpoint may remain
        assert n_persistent() <= before + 1


def test_round_driver_stops_at_convergence_or_budget(spark):
    """plans/iterate.Rounds.iterate: the first round whose convergence
    test passes is the last; without one the budget runs exactly; the
    returned state is readable after the scope exits, and every other
    round's checkpoint is gone."""
    from pyspark.sql import functions as F

    from waka_spark.plans.iterate import Rounds

    def n_persistent():
        return len(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    def run(max_iter, converged=None):
        steps = []

        def step(state):
            steps.append(1)
            return state.select((F.col("x") + 1).alias("x"))

        before = n_persistent()
        with Rounds(spark) as rounds:
            state = rounds.checkpoint(spark.range(3).select(
                F.col("id").alias("x")))
            state = rounds.keep(
                rounds.iterate(state, step, max_iter, converged=converged))
        assert n_persistent() <= before + 1
        return len(steps), sorted(r["x"] for r in state.collect())

    # converges at round 4 (min x reaches 4), well inside the budget
    assert run(10, lambda s: s.agg(F.min("x")).first()[0] >= 4) == (
        4, [4, 5, 6])
    # never converges: exactly the budget
    assert run(6, lambda s: False) == (6, [6, 7, 8])
    assert run(5) == (5, [5, 6, 7])


def test_parallel_floor_falls_back_to_partition_count(spark):
    """When the optimizer stats probe raises, parallel_floor decides by
    partition count (as for unknown Long.MaxValue stats) instead of
    assuming a small input: a frame already spread over >= cores
    partitions comes back as is, a narrower one is re-spread. When the
    probe works, a large estimate alone leaves even a one-partition frame
    alone."""
    from waka_spark.plans.parallel import parallel_floor

    huge = spark.range(0, 10**12, 1, 1)  # estimate 8 TB, one partition
    assert parallel_floor(huge, "id") is huge

    class NoStats:
        """Delegates to a frame whose stats probe raises."""

        def __init__(self, df):
            self._df = df

        @property
        def _jdf(self):
            raise RuntimeError("stats unavailable")

        def __getattr__(self, name):
            return getattr(self._df, name)

    cores = spark.sparkContext.defaultParallelism
    wide = NoStats(spark.range(100).repartition(cores))
    assert parallel_floor(wide, "id") is wide
    narrow = NoStats(spark.range(100).coalesce(1))
    assert parallel_floor(narrow, "id").rdd.getNumPartitions() == 2 * cores
