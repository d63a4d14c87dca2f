"""Regression tests for the round-1 review findings (ADVICE.md):

1. decimal macro path must be EXACT (no long overflow or double
   rounding in the Spark moments) in the large-n regime it exists for;
2. kcore / hashmin-CC raise on max_iter exhaustion instead of silently
   returning non-converged (wrong) results;
3. zero-norm embeddings must not rank first in cosine top-k (NaN sorts
   above every double in Spark);
4. ngram_jaccard max_postings is a no-op when no posting list exceeds
   it, and genuinely bounds hot shingles when one does.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_graph


# ------------------------------------------------------------- decimal macro
def test_macro_moments_decimal_exact_at_large_n(spark):
    """Past the long bound the Spark moments are decimal(38,0) sums of
    factors cast before they multiply: a 2-star end of 3.1e9 squares
    past 2^63, where a long product overflows and a double rounds.  The
    sums, e.g. disconn*(disconn-1)/2 at ~2.4e19 for the first row, must
    equal the per-edge terms summed in Python ints."""
    from pgd_spark.operators.graphlets import _LONG_SUMS_BOUND, _macro_sums, _moments

    n, m = 7_000_000_003, 10
    # degree-oriented edge rows (deg_v, deg_u, tri, cliq, cyc)
    rows = [(3, 3, 1, 0, 0), (3_100_000_000, 3_100_000_000, 1, 0, 0)]
    c = spark.createDataFrame(rows, "deg_v long, deg_u long, tri long, cliq long, cyc long")
    assert n * n * m >= _LONG_SUMS_BOUND
    moments = _moments(c, n, m)
    a = 3_100_000_000 - 1 - 1
    assert moments[5] == 1 + a * a  # Σa², beyond both long and double
    assert a * a > 2**63 and float(a * a) != a * a
    s = _macro_sums(n, m, moments)
    want = dict.fromkeys(["n1", "n8", "n9", "n10"], 0)
    for dv, du, tri, _, _ in rows:
        star = (dv - tri - 1) + (du - tri - 1)
        disconn = n - (star + tri) - 2
        ts = tri + star
        want["n1"] += ts * (ts - 1) // 2
        want["n8"] += disconn * (disconn - 1) // 2
        want["n9"] += star * disconn
        want["n10"] += tri * disconn
    assert {k: s[k] for k in want} == want
    # sanity: the first row's n8 really is beyond double precision
    d0 = n - 5
    assert float(d0 * (d0 - 1) // 2) != d0 * (d0 - 1) // 2


def test_macro_counts_decimal_branch_equals_long_branch(spark, monkeypatch):
    from pgd_spark.operators import graphlets
    from pgd_spark.operators.graphlets import MACRO_KEYS, macro_counts

    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 0), (1, 4)]
    t_long = macro_counts(make_graph(spark, pairs), strategy="broadcast")
    # a zero bound puts every graph in the decimal regime
    monkeypatch.setattr(graphlets, "_LONG_SUMS_BOUND", 0)
    t_dec = macro_counts(make_graph(spark, pairs), strategy="broadcast")
    for k in MACRO_KEYS:
        assert t_long[k] == t_dec[k], k


# ------------------------------------------------------- convergence guards
def path_graph(k):
    return [(i, i + 1) for i in range(k)]


def test_kcore_raises_on_max_iter_exhaustion(spark):
    from pgd_spark.operators.kcore import kcore

    g = make_graph(spark, path_graph(12))
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(g, max_iter=2)
    # ample budget: converges, path coreness is 1 everywhere
    cores = {r["v"]: r["core"] for r in kcore(g, max_iter=50).collect()}
    assert set(cores.values()) == {1}


def test_hashmin_cc_raises_on_max_iter_exhaustion(spark):
    from pgd_spark.operators.pregel import connected_components

    g = make_graph(spark, path_graph(12))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(g, max_iter=3)
    labels = {
        r["v"]: r["component"] for r in connected_components(g, max_iter=50).collect()
    }
    assert set(labels.values()) == {0}


def test_pagerank_warns_on_non_convergence(spark):
    from pgd_spark.operators.pregel import pagerank

    g = make_graph(spark, path_graph(8))
    with pytest.warns(RuntimeWarning, match="did not reach tol"):
        pagerank(g, tol=1e-12, max_iter=2)


# ------------------------------------------------------------ zero-norm guard
def test_cosine_topk_zero_vector_never_ranks_first(spark):
    from pgd_spark.functions.similarity import cosine_topk

    items = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 0.0]),  # zero norm: NaN without the guard
        ],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<float>")
    rows = cosine_topk(items, queries, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in rows] == [1, 2, 3]
    assert rows[-1]["sim"] == -1.0


# ----------------------------------------------------------- max_postings
def test_ngram_jaccard_max_postings_guard(spark):
    from pgd_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over") for i in range(12)],
        "doc_id long, text string",
    )
    exact = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    capped_noop = ngram_jaccard_pairs(docs, threshold=0.5, max_postings=100).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, capped_noop))
    # a cap below the corpus-wide shingle frequency actually drops work:
    # every shingle here occurs in >=4 docs, so postings empty out
    capped_tight = ngram_jaccard_pairs(docs, threshold=0.5, max_postings=3).collect()
    assert len(capped_tight) < len(exact)


def test_distributed_census_hub_feasibility_gate(spark):
    """A celebrity vertex past max_exact_degree must be rejected with an
    actionable error (exact census work is Theta(d^2) per hub), while
    the same graph passes with the gate above its max degree."""
    import pytest
    from pgd_spark.graph import Graph
    from pgd_spark.operators.graphlets import edge_graphlet_counts
    from pyspark.sql import functions as F

    # star: hub 0 with 50 spokes, plus a few spoke-spoke edges
    hub = spark.range(1, 51).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    extra = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    g = Graph.from_edges(hub.unionByName(extra))
    with pytest.raises(ValueError, match="feasibility"):
        edge_graphlet_counts(g, strategy="distributed", max_exact_degree=10)
    out = edge_graphlet_counts(g, strategy="distributed", max_exact_degree=100)
    assert out.count() == g.num_edges()


# ---------------------------------------------------- round-3 ADVICE fixes
def test_compact_keep_last_exceeding_epochs_is_noop(spark, tmp_path):
    """keep_last > #epochs must compact NOTHING — the old negative slice
    selected (len - keep_last) epochs from the tail as victims and
    compacted epochs the caller asked to keep."""
    from pgd_spark.streaming.edges import compact_edge_store, read_edge_store

    store = str(tmp_path / "store")
    for e in range(10):
        spark.createDataFrame([(e, e + 100)], "src long, dst long").write.parquet(
            f"{store}/epoch={e}"
        )
    before = sorted(
        (r.src, r.dst) for r in read_edge_store(spark, store).collect()
    )
    assert compact_edge_store(spark, store, keep_last=12, min_epochs=2) == 0
    import os

    dirs = sorted(d for d in os.listdir(store) if d.startswith("epoch="))
    assert len(dirs) == 10, "no epoch may be touched when keep_last covers all"
    after = sorted((r.src, r.dst) for r in read_edge_store(spark, store).collect())
    assert after == before


def test_feasibility_gate_names_an_existing_api(spark):
    """The gate's error message must point at an API that exists."""
    import re

    import pgd_spark.operators as ops
    from pgd_spark.graph import Graph
    from pgd_spark.operators.graphlets import edge_graphlet_counts

    hub = spark.range(1, 31).select(F.lit(0).alias("src"), F.col("id").alias("dst"))
    g = Graph.from_edges(hub)
    with pytest.raises(ValueError) as ei:
        edge_graphlet_counts(g, strategy="distributed", max_exact_degree=5)
    named = re.findall(r"pgd_spark\.operators\.(\w+)", str(ei.value))
    assert named, "error message should name a mitigation API"
    for fn in named:
        assert hasattr(ops, fn), f"error message names nonexistent API {fn}"


def test_suspend_aqe_is_per_session(spark):
    """Two sessions suspended concurrently must each get AQE off and
    each restore its OWN prior value (module-global depth let the inner
    session skip the disable and cross-restore)."""
    from pgd_spark.operators.pregel import suspend_aqe

    other = spark.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    other.conf.set("spark.sql.adaptive.enabled", "false")
    with suspend_aqe(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        with suspend_aqe(other):
            # the second session is independently disabled…
            assert other.conf.get("spark.sql.adaptive.enabled") == "false"
        # …and restores ITS value, not the first session's
        assert other.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    other.conf.set("spark.sql.adaptive.enabled", "true")


def test_broadcast_threshold_scales_with_driver_mem():
    from pgd_spark.session import _mem_to_mb

    assert _mem_to_mb("14g") == 14 * 1024
    assert _mem_to_mb("512m") == 512
    assert _mem_to_mb("2g") == 2048
    # the local-mode formula: min(384, heap/8) MB, floor 16
    assert min(384, max(_mem_to_mb("2g") // 8, 16)) == 256
    assert min(384, max(_mem_to_mb("24g") // 8, 16)) == 384


# ---------------------------------------------------- round-4 ADVICE fixes
def test_mem_to_mb_gb_spellings_bytes_and_warning():
    """'4gb' must parse (not silently fall back to 4096); bare numbers
    are MiB, matching Spark's reading of spark.driver.memory (ADVICE
    r5: the old bytes reading disagreed with what Spark actually
    allocated for the same string); garbage warns."""
    from pgd_spark.session import _mem_to_mb

    assert _mem_to_mb("4gb") == 4 * 1024
    assert _mem_to_mb("512mb") == 512
    assert _mem_to_mb("1t") == 1024 * 1024
    assert _mem_to_mb("4096") == 4096  # bare number = MiB, Spark's convention
    with pytest.warns(UserWarning, match="unparseable"):
        assert _mem_to_mb("lots") == 4096


def test_normalize_mem_bare_numbers_get_mib_suffix():
    """PGD_SPARK_DRIVER_MEM=4096 means 4096 MiB to Spark but 4096 BYTES
    to -Xms (instant JVM-startup failure) — the env boundary appends
    'm' so every consumer agrees (ADVICE r5)."""
    from pgd_spark.session import normalize_mem

    assert normalize_mem("4096") == "4096m"
    assert normalize_mem(" 14g ") == "14g"
    assert normalize_mem("512mb") == "512mb"


def test_parse_size_bytes_spark_grammar():
    """Session confs like autoBroadcastJoinThreshold come back as the
    caller set them — possibly '64m'/'100MB' — and int() crashed the
    ivf auto-sizing path (ADVICE r5)."""
    from pgd_spark.session import parse_size_bytes

    assert parse_size_bytes("67108864", 0) == 67108864
    assert parse_size_bytes("64m", 0) == 64 * 1024 * 1024
    assert parse_size_bytes("100MB", 0) == 100 * 1024 * 1024
    assert parse_size_bytes("1g", 0) == 1024**3
    assert parse_size_bytes(123, 0) == 123
    assert parse_size_bytes("garbage", 42) == 42
    # -1 (broadcast disabled) must survive, not fall back
    assert parse_size_bytes("-1", 0) == -1


def test_ivf_topk_handles_suffixed_broadcast_threshold(spark):
    """ivf_cosine_topk's auto-sizing must not crash when the session's
    broadcast threshold carries a size suffix (ADVICE r5)."""
    from pgd_spark.functions.similarity import ivf_cosine_topk

    rows = [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(30)]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(rows[:2], "query_id long, embedding array<float>")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    try:
        got = ivf_cosine_topk(items, queries, k=3, n_centroids=4).collect()
        assert len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dup_clusters_rejects_non_integral_ids(spark):
    """String doc ids silently cast to null → every edge dropped →
    keep=1 for all docs (a silent 'no duplicates' answer) — must raise
    instead (ADVICE r5)."""
    from pgd_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral"):
        dup_clusters(pairs)
    ok_pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    docs = spark.createDataFrame([("a",)], "doc_id string")
    with pytest.raises(TypeError, match="integral"):
        dup_clusters(ok_pairs, docs=docs)


def test_neardup_empty_input_raises_clear_error(spark):
    """dim=None on an empty frame crashed with a bare TypeError from
    first() — must raise a ValueError naming the fix (ADVICE r5)."""
    from pgd_spark.functions.similarity import embedding_neardup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="pass dim="):
        embedding_neardup_pairs(empty)


def test_compact_edge_store_rejects_non_parquet_formats(spark, tmp_path, monkeypatch):
    """Under delta/iceberg the store is a table, not an epoch-dir tree —
    compaction must fail loudly naming the native maintenance command,
    not silently no-op or FileNotFoundError on a path listing."""
    from pgd_spark.streaming.edges import compact_edge_store

    monkeypatch.setenv("PGD_SPARK_TABLE_FORMAT", "iceberg")
    with pytest.raises(NotImplementedError, match="rewrite_data_files"):
        compact_edge_store(spark, str(tmp_path / "nonexistent"))
    monkeypatch.setenv("PGD_SPARK_TABLE_FORMAT", "delta")
    with pytest.raises(NotImplementedError, match="OPTIMIZE"):
        compact_edge_store(spark, str(tmp_path / "nonexistent"))


def test_ivf_assign_is_aggregate_not_window(spark):
    """The nearest-centroid argmax must be a partial-aggregable groupBy
    (shuffle carries N rows), not a row_number window over the N x C
    scored frame — and ties must still break to the lower cid."""
    from pgd_spark.functions.similarity import ivf_assign

    items = spark.createDataFrame(
        [(i, [float(i % 4), 1.0]) for i in range(1, 25)],
        "vec_id long, embedding array<float>",
    )
    cent, assigned = ivf_assign(items, n_centroids=4)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "assignment must not use a window"
    rows = assigned.collect()
    assert len(rows) == 24
    cents = {r["cid"]: None for r in cent.collect()}
    # determinism incl. ties: identical vectors get identical centroids,
    # and every assigned cid is a real centroid
    by_vec = {}
    for r in rows:
        assert r["cid"] in cents
        key = tuple(round(x, 6) for x in r["ivec"])
        by_vec.setdefault(key, set()).add(r["cid"])
    assert all(len(s) == 1 for s in by_vec.values())


def test_ivf_topk_large_batch_falls_back_to_shuffle_join(spark):
    """broadcast_probes=False (and the auto path under a tiny threshold)
    must produce the same rows as the broadcast plan."""
    from pgd_spark.functions.similarity import ivf_cosine_topk

    items = spark.createDataFrame(
        [(i, [float((i * 7) % 13), float((i * 3) % 5), 1.0]) for i in range(1, 61)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(q, [float(q % 13), float(q % 5), 1.0]) for q in range(5)],
        "query_id long, embedding array<float>",
    )
    a = ivf_cosine_topk(items, queries, k=3, n_centroids=8, nprobe=8,
                        broadcast_probes=True).collect()
    b = ivf_cosine_topk(items, queries, k=3, n_centroids=8, nprobe=8,
                        broadcast_probes=False).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_caller_owned_vmap_is_not_repersisted(spark):
    """edges_from_transcripts must not persist() a caller-provided vmap
    (per-microbatch re-persist spammed CacheManager warnings); a vmap it
    builds itself is still cached for its two broadcast uses."""
    from pgd_spark.sources.transcripts import (
        edges_from_transcripts,
        generate_transcripts,
        vertex_map,
    )

    t = generate_transcripts(spark, n_conv=20)
    vm = vertex_map(t)  # deliberately NOT cached by the caller
    g, vm_out = edges_from_transcripts(t, vmap=vm)
    assert vm_out is vm
    assert not vm.storageLevel.useMemory and not vm.storageLevel.useDisk
    g.edges.count()  # the derivation itself still works
    # self-built path: persisted exactly once, and usable
    g2, vm2 = edges_from_transcripts(t)
    assert vm2.storageLevel.useMemory
    assert g2.edges.count() == g.edges.count()
    vm2.unpersist()


def test_video_real_codec_contract_names_wheels(spark):
    """sample_frames(use_real_codecs=True) must raise the same
    named-wheel NotImplementedError contract as the image path."""
    from pgd_spark.functions.multimodal import sample_frames

    df = spark.createDataFrame([(1, bytearray(b"xx"))], "doc_id long, payload binary")
    with pytest.raises(Exception) as ei:
        sample_frames(df, use_real_codecs=True).collect()
    assert "pyav" in str(ei.value) or "imageio-ffmpeg" in str(ei.value)


def test_dedup_uses_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With sc.setCheckpointDir configured, the Spark placement's dedup
    results must survive via a reliable checkpoint (executor-loss
    tolerant) and still release every internal cache; results identical
    to the local path.  The driver placement (20 docs fit the broadcast
    budget) returns a local relation with the same rows."""
    import os

    from pgd_spark.functions.dedup import minhash_dedup as minhash_dedup_pairs

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" if i % 7 else ""))
         for i in range(20)],
        "doc_id long, text string",
    )
    on_driver = minhash_dedup_pairs(docs)
    assert "LocalRelation" in on_driver._jdf.queryExecution().optimizedPlan().toString()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # the Spark placement, where checkpoints apply
    sc = spark.sparkContext
    try:
        base = minhash_dedup_pairs(docs).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, on_driver.collect()))
        assert sc.getCheckpointDir() is None
        sc.setCheckpointDir(str(tmp_path / "ck"))
        rel = minhash_dedup_pairs(docs).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, rel))
        assert os.listdir(str(tmp_path / "ck")), "reliable checkpoint dir unused"
    finally:
        spark.conf.set(key, old)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


def test_bracket_flat_acceptance_rule():
    """The scaling protocol's window-acceptance rule (VERDICT r5 task 1):
    flat = both ceiling samples <= 1.0 and within 10%; a >1.0 sample is
    physically impossible on a fair host and must reject the window."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from scaling_bench import _bracket_flat

    assert _bracket_flat(0.95, 0.98) is True
    assert _bracket_flat(0.90, 1.005) is False  # post over 1.0
    assert _bracket_flat(1.02, 0.95) is False   # pre over 1.0
    assert _bracket_flat(0.80, 0.95) is False   # >10% apart
    assert _bracket_flat(0.999, 0.921) is True  # 8.5% apart, both sane
    assert _bracket_flat(None, 0.9) is None     # quick mode: unknown


def test_parse_size_bytes_bare_b_and_pebi():
    """ADVICE r6: bare-byte suffix ('10485760b') and p/pb must parse
    per Spark's byteStringAs grammar instead of returning the default."""
    from pgd_spark.session import parse_size_bytes

    assert parse_size_bytes("10485760b", 0) == 10485760
    assert parse_size_bytes("1p", 0) == 1024**5
    assert parse_size_bytes("1pb", 0) == 1024**5
    assert parse_size_bytes("garbage", 42) == 42


def test_dup_clusters_id_gate_case_and_decimal(spark):
    """ADVICE r6: case-different id columns and decimal(p,0) ids pass
    the integral gate; an absent column names itself."""
    import pytest
    from pyspark.sql import functions as F

    from pgd_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame([(1, 2)], "ID_A long, Id_B long")
    out = dup_clusters(pairs)  # case-insensitive lookup, like Spark
    assert {(r["doc_id"], r["canonical_id"]) for r in out.collect()} == {(1, 1), (2, 1)}

    dec = spark.createDataFrame([(1, 2)], "id_a long, id_b long").select(
        F.col("id_a").cast("decimal(10,0)").alias("id_a"), "id_b"
    )
    assert dup_clusters(dec).count() == 2

    with pytest.raises(TypeError, match="not found"):
        dup_clusters(spark.createDataFrame([(1, 2)], "x long, id_b long"))


# ------------------------- id gate, owned edge cache, scan partition count
@pytest.mark.parametrize(
    "dtype, ok",
    [("int", True), ("bigint", True), ("decimal(18,0)", True), ("decimal(19,0)", False),
     ("decimal(10,2)", False), ("double", False), ("string", False)],
)
def test_graph_from_edges_id_gate(spark, dtype, ok):
    """A wide decimal id past the int64 range casts to null, so its edge
    would drop without a word: only lossless id types build a Graph."""
    from pgd_spark.graph import Graph

    df = spark.createDataFrame([(1, 2), (2, 3)], "a long, dst long").select(
        F.col("a").cast(dtype).alias("Src"), "dst"
    )
    if ok:
        assert Graph.from_edges(df, src="src").num_edges() == 2
    else:
        with pytest.raises(TypeError, match=r"edges\.src"):
            Graph.from_edges(df, src="src")


def _write_lineitem(spark, sf_dir, files: int):
    rows = [(o, p) for o in range(40) for p in range(o % 7, o % 7 + 4)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    li.repartition(files).write.parquet(f"{sf_dir}/lineitem.parquet")


def test_copurchase_graph_unpersist_releases_its_edges(spark, tmp_path):
    from pgd_spark.operators.graphlets import macro_counts
    from pgd_spark.sources.relational import copurchase_graph

    _write_lineitem(spark, tmp_path, files=1)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    g = copurchase_graph(spark, str(tmp_path))
    assert g.num_edges() > 0
    g.degrees().count()
    macro_counts(g, strategy="broadcast")
    assert jsc.getPersistentRDDs().size() > before
    g.unpersist()
    assert jsc.getPersistentRDDs().size() == before


def test_copurchase_probe_side_spread_reads_no_python_rdd(spark, tmp_path, monkeypatch):
    """A one-file scan is repartitioned to the default parallelism; an
    input with enough partitions passes through.  The partition count
    comes from the JVM plan, never from a Python RDD."""
    from pgd_spark.sources.relational import copurchase_edges

    def no_rdd(self):
        raise AssertionError("copurchase_edges built a Python RDD")

    _write_lineitem(spark, tmp_path, files=1)
    one_file = spark.read.parquet(f"{tmp_path}/lineitem.parquet")
    monkeypatch.setattr(type(one_file), "rdd", property(no_rdd))

    def plan(li):
        return copurchase_edges(li)._jdf.queryExecution().optimizedPlan().toString()

    par = spark.sparkContext.defaultParallelism
    assert f"Repartition {par}, true" in plan(one_file)
    wide = one_file.repartition(2 * par)
    assert f"Repartition {par}, true" not in plan(wide)
    assert copurchase_edges(one_file).count() == copurchase_edges(wide).count()
