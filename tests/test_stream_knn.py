"""Streaming k-NN serving: micro-batched queries answered with the
batch kernel; results match batch knn_join exactly."""

import json

import pytest

from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.knn import knn_join
from distributed_vector_database_spark.streaming.stream_knn import stream_knn


def test_stream_knn_matches_batch(spark, tables, tmp_path):
    emb = tables["embeddings"].cache()
    # two query vectors, shipped as JSON files (the query stream)
    qrows = emb.filter("vec_id in (1, 2)").collect()
    src = tmp_path / "queries"
    src.mkdir()
    with open(src / "q0.json", "w") as f:
        for r in qrows:
            f.write(
                json.dumps(
                    {"query_id": r["vec_id"], "query_vec": list(map(float, r["embedding"]))}
                )
                + "\n"
            )

    collected = []

    def sink(df, batch_id):
        collected.extend(tuple(r) for r in df.collect())

    stream = spark.readStream.schema(
        "query_id long, query_vec array<double>"
    ).json(str(src))
    q = stream_knn(
        stream, emb, k=3, checkpoint_dir=str(tmp_path / "ck"), sink=sink
    )
    q.awaitTermination(120)

    batch_queries = emb.filter("vec_id in (1, 2)").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = sorted(tuple(r) for r in knn_join(batch_queries, emb, k=3).collect())
    assert sorted(collected) == want and len(want) == 6


def test_stream_knn_requires_sink_and_checkpoint(spark, tmp_path):
    # without a sink the stream used to start and then fail its first
    # non-empty batch with "'NoneType' object is not callable"
    stream = spark.readStream.schema(
        "query_id long, query_vec array<double>"
    ).json(str(tmp_path))
    corpus = spark.createDataFrame([(1, [0.0, 1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(TypeError):
        stream_knn(stream, corpus, k=3)
