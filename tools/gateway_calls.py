"""py4j gateway commands and wall time per corpus-operator call.

Every PySpark Column call is at least one py4j command from the driver
to the JVM (``F.lit(0.5)`` is three, a 64-value ``F.array`` of double
literals ~260), so an operator that builds a wide literal expression
Column by Column spends seconds on the driver before Spark plans
anything.  This tool counts those commands by wrapping
``py4j.clientserver.ClientServerConnection.send_command`` and prints,
for each call on seeded inputs (the benchmark's document and embedding
generators):

* ``minhash_dedup`` at the benchmark settings and at the defaults;
* ``embedding_neardup_pairs`` at the benchmark settings and at the
  defaults (16 tables x 8 bits x 64 dims);
* ``lsh_cosine_topk`` and ``simhash_dedup`` at their defaults;
* the sign-LSH bucket column alone at the embedding defaults, split
  into build time (Python renders the SQL text, the JVM parses it) and
  analysis time (the ``select`` that resolves it).

Each call includes collecting its result.  Every call runs once per
round; the first round also pays JVM warm-up.

    python tools/gateway_calls.py [--seed 5] [--rounds 2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextmanager
def gateway_commands():
    """Yield a one-element list holding the number of py4j commands the
    driver has sent since the block began."""
    from py4j.clientserver import ClientServerConnection

    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        ClientServerConnection.send_command = send


def _measure(fn) -> tuple[int, float]:
    with gateway_commands() as n:
        t = time.perf_counter()
        fn()
        wall = time.perf_counter() - t
    return n[0], wall


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--docs", type=int, default=600)
    ap.add_argument("--items", type=int, default=400)
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()
    os.environ.setdefault("PGD_SPARK_DRIVER_MEM", "2g")
    from pyspark.sql import functions as F

    from perfbench import inputs
    from pgd_spark.functions.dedup import minhash_dedup, simhash_dedup
    from pgd_spark.functions.similarity import (
        _explode_buckets,
        embedding_neardup_pairs,
        lsh_cosine_topk,
    )
    from pgd_spark.session import get_spark

    spark = get_spark(
        app_name="gateway_calls", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = spark.createDataFrame(inputs.documents(args.seed, args.docs)).cache()
    embs = spark.createDataFrame(inputs.embeddings(args.seed, args.items)).cache()
    docs.count(), embs.count()
    queries = embs.limit(20).withColumnRenamed("vec_id", "query_id").cache()
    queries.count()
    bench_mh = {"threshold": 0.75, "num_hashes": 16, "bands": 4}
    bench_nd = {"threshold": 0.45, "bits": 4, "tables": 2, "dim": 64, "max_bucket": 400}
    calls = [
        ("minhash_dedup (16 hashes, 4 bands)", lambda: minhash_dedup(docs, **bench_mh).collect()),
        ("minhash_dedup (defaults)", lambda: minhash_dedup(docs).collect()),
        ("embedding_neardup_pairs (2 x 4 bits)",
         lambda: embedding_neardup_pairs(embs, **bench_nd).collect()),
        ("embedding_neardup_pairs (defaults)",
         lambda: embedding_neardup_pairs(embs, threshold=0.45, dim=64).collect()),
        ("lsh_cosine_topk (defaults)", lambda: lsh_cosine_topk(embs, queries, dim=64).collect()),
        ("simhash_dedup (defaults)", lambda: simhash_dedup(docs).collect()),
    ]
    print(f"seed {args.seed}: {args.docs} documents, {args.items} vectors; local[4]")
    print(f"{'round':>5}  {'call':<40} {'commands':>9} {'wall_s':>8}")
    for r in range(1, args.rounds + 1):
        for name, fn in calls:
            n, wall = _measure(fn)
            print(f"{r:>5}  {name:<40} {n:>9} {wall:>8.3f}")
        cols = []
        n_build, build = _measure(
            lambda: cols.append(_explode_buckets("embedding", 64, 8, 16, 42))
        )
        n_an, analysis = _measure(lambda: embs.select(F.col("vec_id"), cols[0]))
        print(f"{r:>5}  {'bucket column 16 x 8 x 64: build':<40} {n_build:>9} {build:>8.3f}")
        print(f"{r:>5}  {'bucket column 16 x 8 x 64: analysis':<40} {n_an:>9} {analysis:>8.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
