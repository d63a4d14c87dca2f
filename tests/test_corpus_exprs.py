"""The corpus operators' plan building: wide literal expressions go to
the JVM as SQL text, the shingle normalization runs once per document,
and the dup_clusters id gate refuses decimals that may not fit int64."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgd_spark.functions.dedup import _shingles, dup_clusters
from pgd_spark.functions.similarity import (
    _bucket_expr,
    _double_sql,
    _explode_buckets,
    _hyperplanes,
)
from tools.gateway_calls import gateway_commands


def test_double_literal_round_trips_exactly(spark):
    vals = [0.1, -2.5, 1e-05, 5e-324, -0.0, 1.7976931348623157e308]
    row = spark.range(1).select(
        *[F.expr(_double_sql(v)).alias(f"c{i}") for i, v in enumerate(vals)]
    ).first()
    for v, got in zip(vals, row):
        assert struct.pack("<d", got) == struct.pack("<d", v), (v, got)


def test_bucket_ids_match_python_left_fold(spark):
    dim, bits, tables, seed = 64, 8, 3, 42
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((40, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], "id int, v array<float>"
    )
    got = {
        (r["id"], r["t"]): r["b"]
        for r in df.select("id", _explode_buckets("v", dim, bits, tables, seed))
        .select("id", "bk.t", "bk.b")
        .collect()
    }
    for t in range(tables):
        planes = _hyperplanes(dim, bits, t, seed)
        one = {
            r["id"]: r["b"]
            for r in df.select("id", F.expr(_bucket_expr("v", planes)).alias("b")).collect()
        }
        for i, v in enumerate(vecs):
            want = 0
            for bit, p in enumerate(planes):
                acc = 0.0
                for x, y in zip(v.astype(np.float64).tolist(), p):
                    acc += x * y
                if acc > 0:
                    want += 2**bit
            assert one[i] == want, (t, i)
            assert got[(i, t)] == want, (t, i)


def test_shingles_normalize_once(spark):
    docs = spark.createDataFrame(
        [(1, "  The  quick brown fox "), (2, "ab")], "doc_id long, text string"
    )
    sh = _shingles(docs, "doc_id", "text", 3)
    plan = sh._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1, plan
    got = {(r["id"], r["shingle"]) for r in sh.collect()}
    t = "the quick brown fox"
    want = {(1, t[i : i + 3]) for i in range(len(t) - 2)} | {(2, "ab")}
    assert got == want


def test_bucket_columns_at_defaults_cross_the_gateway_rarely(spark):
    items = spark.createDataFrame([(1, [0.0] * 64)], "vec_id long, embedding array<float>")
    with gateway_commands() as n:
        items.select("vec_id", _explode_buckets("embedding", 64, 8, 16, 42))
    assert 0 < n[0] < 1000, n[0]


@pytest.mark.parametrize("p, ok", [(18, True), (19, False), (38, False)])
def test_dup_clusters_decimal_id_width(spark, p, ok):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long").select(
        F.col("id_a").cast(f"decimal({p},0)").alias("id_a"), "id_b"
    )
    if ok:
        assert dup_clusters(pairs).count() == 2
    else:
        with pytest.raises(TypeError, match="pairs.id_a"):
            dup_clusters(pairs)
