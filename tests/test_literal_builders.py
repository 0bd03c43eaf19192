"""The literal-vector SQL builders (functions/vector.py): literals
render back to the identical double, and building the PQ / IVF+PQ
operators stays a bounded number of py4j round trips."""

from __future__ import annotations

from contextlib import contextmanager

from py4j.clientserver import ClientServerConnection

from aws_cdk_pipelines_datalake_etl_spark.functions.vector import (
    literal_structs,
    nearest_centroid,
    nearest_codes,
)
from aws_cdk_pipelines_datalake_etl_spark.operators import pq
from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
    train_ivf_codebook,
)
from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table

from tests.conftest import SF_DIR_SMOKE


@contextmanager
def _py4j_calls():
    calls = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send


def test_literal_doubles_round_trip(spark):
    values = [0.1, -0.25, 1e-05, -3.3e-12, 123456.789, 5e-324, -0.0, 2.0 / 3.0]
    row = spark.range(1).select(
        literal_structs(["i", "v"], [(7, values)]).alias("a")
    ).first()
    assert row.a[0].i == 7
    assert row.a[0].v == values


def test_nearest_builders_match_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    X = rng.standard_normal((20, 4)).round(6)
    books = [rng.standard_normal((3, 2)).round(6).tolist() for _ in range(2)]
    cents = rng.standard_normal((5, 4)).round(6).tolist()
    df = spark.createDataFrame([(X[i].tolist(),) for i in range(len(X))], "v array<double>")
    got = df.select(
        "v", nearest_codes("v", books).alias("c"), nearest_centroid("v", cents).alias("b")
    ).collect()
    for r in got:
        x = np.array(r.v)
        want = [
            int(((x[2 * j : 2 * j + 2] - np.array(books[j])) ** 2).sum(axis=1).argmin())
            for j in range(2)
        ]
        assert r.c == want
        assert r.b == int((np.array(cents) @ x).argmax())


def test_pq_builds_stay_within_py4j_budget(spark):
    """Literal vectors and tables are rendered as SQL text, one
    ``F.expr`` each: a Column tree per literal costs several py4j round
    trips, ~54,000 to build ``pq_encode`` alone at this scale."""
    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    queries = emb.orderBy("vec_id").limit(3)
    coarse = train_ivf_codebook(emb, n_centroids=4, seed=42)
    books = pq.train_pq_codebooks(emb, m=16, ksub=16)
    with _py4j_calls() as calls:
        pq.pq_encode(emb, books)
        pq.ivf_pq_topk(
            emb, queries, k=5, coarse_k=4, nprobe=2,
            codebooks=books, coarse=coarse, tables="literal",
        )
    assert calls[0] < 2500, calls[0]
