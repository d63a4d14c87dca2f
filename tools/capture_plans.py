"""Capture .explain("formatted") for every bench-suite query path.

Usage: python tools/capture_plans.py <out_dir> [suffix]

Writes <out_dir>/<query>_<suffix>.txt (suffix defaults to "before").
The eager operators (minhash_dedup, emb_neardup) and the iterative
loops (pagerank, connected_components) don't return a lazily-planned
frame, so their internal plans are captured by temporarily wrapping
the materialization hooks (_materialize_and_release / _cut_lineage)
to dump the plan of the frame being materialized.

Plans only — no query is executed except the cheap scalar prep the
operators themselves do (num_edges etc.).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r07"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from pgd_spark.session import get_spark
    from pgd_spark.sources.relational import copurchase_graph

    spark = get_spark(app_name="pgd_capture_plans")

    def dump(name: str, df) -> None:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(fmt(df))
        print(f"wrote {path}")

    # ---- derive_edges: the co-purchase edge derivation
    g = copurchase_graph(spark, sf_dir)
    dump("derive_edges", g.edges)

    # ---- triangles_distributed (the bench's own plan shape)
    adj = g.adjacency()
    ori = g.oriented()
    tri = (
        ori.join(adj.select(F.col("v").alias("_v"), F.col("nbrs").alias("nv")), ori.v == F.col("_v"))
        .join(adj.select(F.col("v").alias("_u"), F.col("nbrs").alias("nu")), ori.u == F.col("_u"))
        .select(F.size(F.array_intersect("nv", "nu")).alias("t"))
        .agg(F.sum("t"))
    )
    dump("triangles_distributed", tri)

    # ---- distributed census per-edge counts
    from pgd_spark.operators.graphlets import edge_graphlet_counts, release_internal_caches
    from pgd_spark.sources.synthetic import random_graph

    gd = random_graph(spark, 240_000, 2_000_000, seed=11, skew=0.3)
    cd = edge_graphlet_counts(gd, strategy="distributed")
    dump("census_distributed", cd)
    release_internal_caches(cd)

    # ---- pagerank / connected_components: capture the first
    # materialized iterate's plan by wrapping _cut_lineage
    from pgd_spark.operators import pregel

    captured: dict = {}
    orig_cut = pregel._cut_lineage

    def capturing_cut(df, checkpoint_dir, algo, it, log=None):
        captured.setdefault(algo, df)
        return orig_cut(df, checkpoint_dir, algo, it, log)

    pregel._cut_lineage = capturing_cut
    try:
        pregel.pagerank(g, tol=0.0, max_iter=2, checkpoint_interval=2).count()
        pregel.connected_components(g).count()
    finally:
        pregel._cut_lineage = orig_cut
    if "pagerank" in captured:
        dump("pagerank", captured["pagerank"])
    if "cc" in captured:
        dump("connected_components", captured["cc"])

    # ---- transcript derivation
    from pgd_spark.sources.transcripts import edges_from_transcripts, generate_transcripts

    tr = generate_transcripts(spark, 2000)
    tg, _ = edges_from_transcripts(tr)
    dump("transcript_derive", tg.edges)

    # ---- minhash_dedup / emb_neardup / dup_clusters: wrap the eager
    # materializer to capture the plan of the frame it is about to run.
    # Tables that fit the broadcast budget finish on the driver with no
    # Spark plan to capture: broadcasting off selects the Spark placement
    from pgd_spark.functions import dedup, similarity

    pending: list = []
    orig_mat = dedup._materialize_and_release

    def capturing_mat(out, *caches):
        pending.append(out)
        return orig_mat(out, *caches)

    dedup._materialize_and_release = capturing_mat
    similarity_mat = getattr(similarity, "_materialize_and_release", None)
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dedup.minhash_dedup(docs, threshold=0.75)
        dump("minhash_dedup", pending.pop())
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        similarity.embedding_neardup_pairs(
            embs, threshold=0.45, bits=4, tables=8, dim=64, max_bucket=400
        )
        dump("emb_neardup", pending.pop())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        dedup._materialize_and_release = orig_mat
        if similarity_mat is not None:
            similarity._materialize_and_release = similarity_mat

    # ---- cosine_topk
    from pgd_spark.functions.similarity import cosine_topk

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    dump("cosine_topk", cosine_topk(embs, queries, k=10))

    spark.stop()


if __name__ == "__main__":
    main()
