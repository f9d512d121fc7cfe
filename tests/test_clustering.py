"""k-means assignment (operators/clustering.py): hand-checked assignment,
deterministic seeds, the zero-shuffle plan shape and the gate entry."""

from granulate_char_ocr_spark.operators import clustering


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_assign_nearest_and_tiebreak(spark):
    emb = _emb(spark, [(1, [0.0, 0.0]), (2, [4.0, 0.0]), (3, [2.0, 0.0])])
    cents = [[0.0, 0.0], [4.0, 0.0]]
    out = {
        r["vec_id"]: (r["cluster_id"], r["dist2"])
        for r in clustering.assign(emb, cents).collect()
    }
    assert out[1] == (0, 0.0)
    assert out[2] == (1, 0.0)
    assert out[3] == (0, 4.0)  # equidistant -> lower cluster_id wins


def test_assign_is_zero_shuffle(spark):
    emb = _emb(spark, [(1, [0.0, 0.0])])
    plan = (
        clustering.assign(emb, [[0.0, 0.0], [1.0, 1.0]])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_seed_centroids_deterministic(spark):
    emb = _emb(spark, [(5, [5.0]), (1, [1.0]), (3, [3.0])])
    assert clustering.seed_centroids(emb, 2) == [[1.0], [3.0]]


def test_gate_entry_matches_registry(spark):
    from granulate_char_ocr_spark import driver_queries as dq

    df = dq.QUERIES["kmeans_assign_embeddings"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 500
    assert {r["cluster_id"] for r in rows} <= set(range(8))
