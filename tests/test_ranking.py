"""plans/ranking.py — two-stage global rank: correctness vs a plain sort,
and the scale contract: NO single-partition exchange in the plan."""

from pyspark.sql import functions as F

from networkit_spark.plans.ranking import dense_rank_of_distinct, global_row_numbers


def test_global_row_numbers_matches_sort_order(spark):
    vals = [(i * 37) % 1000 for i in range(1000)]  # permutation, unique
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    out = {r["x"]: r["rank"] for r in global_row_numbers(df, ["x"]).collect()}
    for rank, v in enumerate(sorted(vals)):
        assert out[v] == rank


def test_dense_rank_of_distinct(spark):
    df = spark.createDataFrame(
        [(v,) for v in [30, 10, 30, 20, 10, 10]], "label long"
    )
    out = {
        r["label"]: r["component"]
        for r in dense_rank_of_distinct(df, "label", "component").collect()
    }
    assert out == {10: 0, 20: 1, 30: 2}


def test_no_single_partition_exchange(spark):
    df = spark.range(10_000).select(F.col("id").alias("x"))
    plan = global_row_numbers(df, ["x"])._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_renumber_users_have_no_single_partition_exchange(spark):
    from networkit_spark.graph import GraphDF
    from networkit_spark.operators.components import renumber_dense_by_min_id

    labels = spark.range(5000).select(
        F.col("id"), (F.col("id") % 17).alias("label")
    )
    out = renumber_dense_by_min_id(labels)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan

    g = GraphDF.from_edge_list(spark, [(0, 5), (5, 9), (2, 3)], num_nodes=10)
    plan = g.index_edges()._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_prefix_sums_multi_matches_serial_cumsum(spark):
    from networkit_spark.plans.ranking import prefix_sums_multi

    rows = [((i * 53) % 997, i % 3, 1) for i in range(997)]  # unique keys
    df = spark.createDataFrame(rows, "k long, a long, one long")
    out = prefix_sums_multi(df, ["k"], ["a", "one"]).collect()
    got = {r["k"]: (r["cum_a"], r["cum_one"]) for r in out}
    acc_a = 0
    for i, (k, a, _) in enumerate(sorted(rows)):
        acc_a += a
        assert got[k] == (acc_a, i + 1)


def test_prefix_sums_multi_no_single_partition(spark):
    from networkit_spark.plans.ranking import prefix_sums_multi

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("v")
    )
    plan = (
        prefix_sums_multi(df, ["k"], ["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_transcript_input_layer_no_single_partition(spark):
    """VERDICT r2 #1: mint_ids (the 10^12-turn input layer's id dictionary)
    must renumber via the two-stage rank, not a global window."""
    from networkit_spark.sources.transcripts import (
        mint_ids,
        reply_pairs,
        synthesize_transcripts,
    )

    t = synthesize_transcripts(spark, 200)
    pairs = reply_pairs(t)
    vertices, edges = mint_ids(pairs)
    for df in (vertices, edges):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
    # ids still = dense rank of sorted entity keys (the oracle contract)
    rows = sorted((r["entity_key"], r["id"]) for r in vertices.collect())
    assert [i for _, i in rows] == list(range(len(rows)))


def test_roc_pr_no_single_partition(spark):
    """VERDICT r2 #2: ROC / PR threshold sweeps over the O(Σd²) scored-pair
    set must not use a single-partition cumulative window."""
    from networkit_spark.operators.linkprediction import (
        precision_recall_points,
        roc_points,
    )

    scores = spark.createDataFrame(
        [(i, i + 1, float((i * 7) % 13)) for i in range(200)],
        "u long, v long, score double",
    )
    truth = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 3)], "u long, v long"
    )
    for df in (roc_points(scores, truth), precision_recall_points(scores, truth)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan


def test_index_edges_dense_and_ordered(spark):
    from networkit_spark.graph import GraphDF

    g = GraphDF.from_edge_list(spark, [(3, 7), (0, 1), (2, 9), (0, 4)], num_nodes=10)
    rows = sorted(
        ((r["src"], r["dst"]), r["edge_id"]) for r in g.index_edges().collect()
    )
    assert [eid for _, eid in rows] == [0, 1, 2, 3]


def test_compact_node_ids_order_preserving(spark):
    from networkit_spark.graph import GraphDF

    g = GraphDF.from_edge_list(spark, [(100, 7), (7, 55)], num_nodes=None)
    g2, mapping = g.compact_node_ids()
    m = {r["old_id"]: r["new_id"] for r in mapping.collect()}
    assert m == {7: 0, 55: 1, 100: 2}
    assert sorted(r["id"] for r in g2.V.collect()) == [0, 1, 2]


# ---- the per-partition offset lookup: gaps, empties, doubles -------------
# Range bounds are sampled rows, so on a deterministic input Spark leaves
# empty range partitions only AFTER the full ones. Partition ids with gaps
# before and between full ones are made by remapping spark_partition_id to
# 2p+1 (a bijection, so every row still sees its whole partition).


def _gapped_partition_ids(monkeypatch):
    orig = F.spark_partition_id
    monkeypatch.setattr(F, "spark_partition_id", lambda: orig() * 2 + 1)


def test_global_row_numbers_more_partitions_than_rows(spark):
    vals = [41, -3, 17, 0, 99]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    used = (
        df.repartitionByRange(16, "x")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert used < 16  # empty range partitions after the full ones
    out = global_row_numbers(df, ["x"], num_partitions=16).collect()
    assert sorted((r["x"], r["rank"]) for r in out) == [
        (v, i) for i, v in enumerate(sorted(vals))
    ]


def test_global_row_numbers_partition_id_gaps(spark, monkeypatch):
    _gapped_partition_ids(monkeypatch)
    vals = [(i * 7) % 23 for i in range(23)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    out = global_row_numbers(df, ["x"], num_partitions=4).collect()
    assert sorted((r["x"], r["rank"]) for r in out) == [
        (v, i) for i, v in enumerate(sorted(vals))
    ]


def test_ranking_empty_input(spark):
    from networkit_spark.plans.ranking import prefix_sums, prefix_sums_multi

    df = spark.createDataFrame([(1, 2)], "x long, v long").limit(0)
    outs = {
        "rank": global_row_numbers(df, ["x"]),
        "lo_hi": prefix_sums(df, "x", "v"),
        "cum": prefix_sums_multi(df, ["x"], ["v"]),
    }
    assert outs["rank"].columns == ["x", "v", "rank"]
    assert outs["lo_hi"].columns == ["x", "v", "hi", "lo"]
    assert outs["cum"].columns == ["x", "v", "cum_v"]
    for out in outs.values():
        assert out.collect() == []


def test_prefix_sums_partition_id_gaps(spark, monkeypatch):
    from networkit_spark.plans.ranking import prefix_sums

    _gapped_partition_ids(monkeypatch)
    rows = [((i * 11) % 31, (i * 5) % 7) for i in range(31)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: (r["lo"], r["hi"])
        for r in prefix_sums(df, "k", "v", num_partitions=4).collect()
    }
    acc = 0
    for k, v in sorted(rows):
        assert got[k] == (acc, acc + v)
        acc += v


def test_prefix_sums_multi_doubles_with_empty_middle_partition(spark, monkeypatch):
    from networkit_spark.plans.ranking import prefix_sums_multi

    _gapped_partition_ids(monkeypatch)
    # multiples of 1/8: every partial sum is exact in binary floating point
    rows = [(k, ((k * 13) % 9) / 8.0, -((k * 3) % 5) / 4.0) for k in range(40)]
    df = spark.createDataFrame(rows, "k long, a double, b double")
    out = prefix_sums_multi(df, ["k"], ["a", "b"], num_partitions=3).collect()
    got = {r["k"]: (r["cum_a"], r["cum_b"]) for r in out}
    acc_a = acc_b = 0.0
    for k, a, b in sorted(rows):
        acc_a += a
        acc_b += b
        assert got[k] == (acc_a, acc_b)
