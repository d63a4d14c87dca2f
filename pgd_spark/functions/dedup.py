"""Deduplication operators for corpus-scale training-data pipelines.

Four families, all expressed Spark-first:

* exact          — hash-groupBy on normalized text (one shuffle).
* n-gram Jaccard — exact character-shingle similarity via inverted-
                   index self-join (the correctness baseline).
* MinHash + LSH  — shingle → k minhashes → banded bucket join; exact
                   Jaccard verify on candidates only.  The scale path:
                   candidate generation touches only colliding bands,
                   never the full O(N²) pair space.
* SimHash        — 64-bit signature from token hashes, computed fully
                   JVM-side (64 codegen'd conditional sums), candidate
                   pairs via 16-bit band equality, Hamming verify.

All hashing is deterministic across runs/partitions (no RNG state) and
PORTABLE: a polynomial rolling hash over code points mod 2^31-1 plus a
seeded affine family (a*h+b mod 2^31-1), the same arithmetic ANSI SQL
can express — so every operator here is oracle-checkable value-for-
value against an independent SQL engine, and the family is cheaper
than k string hashes (one rolling hash per token, k affine maps).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .candidates import (
    INTEGRAL_IDS,
    bucket_pairs,
    pack31,
    pair_frame,
    set_csr,
    set_overlaps,
    spark_ge,
    spark_round,
)

#: the text normalization: trim (U+0020 only), whitespace runs to one
#: space, lower case.  Java's ``\s`` is exactly ``[ \t\n\x0B\f\r]``; on
#: ASCII text :func:`_norm_ascii` computes the same strings in pyarrow
_NORM = lambda c: F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))  # noqa: E731


def _norm_ascii(texts):
    """``_NORM`` of an ASCII Arrow string array, in pyarrow:
    ``utf8_trim(characters=" ")``, then ``replace_substring_regex`` of
    Java's ``\\s`` class spelled out (RE2's ``\\s`` omits ``\\x0B``,
    Python's adds ``\\x1c``-``\\x1f``), then ``ascii_lower``."""
    import pyarrow.compute as pc

    texts = pc.utf8_trim(texts, characters=" ")
    texts = pc.replace_substring_regex(texts, pattern=r"[ \t\n\x0B\f\r]+", replacement=" ")
    return pc.ascii_lower(texts)


#: modulus for the portable hash family: 2^31-1 (Mersenne prime).
#: a*h+b stays < 2^62 — no int64 overflow in any SQL engine.
HASH_MOD = 2_147_483_647
HASH_BASE = 1009


def char_hash(
    col: str, base: int = HASH_BASE, mod: int = HASH_MOD, length: int | None = None
) -> Column:
    """Polynomial rolling hash of the string column named ``col`` into
    [0, mod): fold(chars, acc -> (acc*base + codepoint) % mod), no
    Python.

    With ``length`` (the usual string length, e.g. the n of n-gram
    shingles) the fold unrolls to ``length`` nested codegen'd
    ascii(substr) expressions — measurably faster than the
    higher-order-function path, same value; strings of any other
    length fall back to the fold (a document shorter than n yields one
    short shingle).  The expression is rendered as SQL text and sent
    to the JVM in one ``F.expr`` (see README, "Driver-side expression
    building")."""
    fold = f"aggregate(split({col}, ''), 0L, (acc, c) -> (acc * {base} + ascii(c)) % {mod})"
    if length is None:
        return F.expr(fold)
    acc = "0L"
    for i in range(1, length + 1):
        acc = f"(({acc}) * {base} + ascii(substring({col}, {i}, 1))) % {mod}"
    return F.expr(f"CASE WHEN length({col}) = {length} THEN {acc} ELSE {fold} END")


def hash_family(k: int, seed: int = 42, mod: int = HASH_MOD) -> list[tuple[int, int]]:
    """k seeded affine maps h -> (a*h + b) % mod; the classic universal
    family.  Deterministic in (k, seed) so an oracle can regenerate the
    identical constants."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, mod), rng.randrange(0, mod)) for _ in range(k)]


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """[id, keep_id, is_dup] — groups exact duplicates (normalized
    text) and elects the minimum id as keeper."""
    keyed = df.select(F.col(id_col), F.md5(_NORM(F.col(text_col))).alias("k"))
    keepers = keyed.groupBy("k").agg(F.min(id_col).alias("keep_id"))
    return (
        keyed.join(keepers, "k")
        .select(
            F.col(id_col),
            F.col("keep_id"),
            (F.col(id_col) != F.col("keep_id")).alias("is_dup"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a NARROW input up to the cluster's parallelism before
    a per-document explode.  A small corpus often arrives as one file →
    one partition, and the shingle/token explode then runs serially
    (measured: 17 s single-task vs <2 s spread at sf0.1); the text
    shuffle this costs is tiny next to the explode it parallelizes.
    Inputs that already have enough partitions pass through untouched —
    no shuffle is added on a real corpus-scale read."""
    from ..session import num_partitions

    par = df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < par:
        return df.repartition(par)
    return df


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """[id, shingle] distinct character n-grams of normalized text.
    Generated JVM-side, no Python: the text is normalized ONCE into a
    column, then sequence + transform(substr) + explode cut it.  Inside
    the transform lambda the normalization would re-run its regex over
    the whole document at every shingle position (O(L²) per document);
    the lambda reads the projected column instead, which the optimizer
    keeps as its own projection because the plan references it twice."""
    df = _spread(df)
    normed = df.select(F.col(id_col).alias("id"), _NORM(F.col(text_col)).alias("_t"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("_t") - n + 1, F.lit(1))),
        lambda i: F.col("_t").substr(i, F.lit(n)),
    )
    return (
        normed.select("id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def _materialize_and_release(out: DataFrame, *caches: DataFrame) -> DataFrame:
    """Run the plan once (EAGERLY — callers pay the full dedup compute
    at call time, not at first action; the result is SMALL, near-dup
    pair lists are O(duplicates) bounded by the bucket caps), then
    release every internal cache.  The dedup operators cache their
    shingle/signature tables because one plan reads them 3-4 times; a
    lazily-returned DataFrame can't unpersist those caches without
    losing them, so they leaked for the life of the session (ADVICE r3:
    41.6 s minhash bench held two shingle caches forever).

    Durability (ADVICE r4): if the session has a RELIABLE checkpoint
    dir configured (``sc.setCheckpointDir``), the result is cut with
    ``checkpoint()`` — it survives executor loss / dynamic
    deallocation, the right mode on a real cluster.  Without one it
    falls back to ``localCheckpoint``: executor-held blocks with NO
    recompute path if an executor dies — fine for local mode, so
    cluster deployments of the dedup operators should set a
    checkpoint dir (as the pregel suite's checkpoint_dir already
    does for iterative state)."""
    sc = out.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        out = out.checkpoint(eager=True)
    else:
        out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_postings: int | None = None,
) -> DataFrame:
    """[id_a < id_b, jaccard] — exact n-gram Jaccard over an inverted-
    index self-join.  ``max_postings`` drops shingles occurring in more
    than that many docs (stopword-shingle blowup guard at corpus scale;
    None = exact).  Executes eagerly and releases its internal caches
    (see _materialize_and_release)."""
    sh = _shingles(df, id_col, text_col, n).cache()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    postings = sh
    if max_postings is not None:
        hot = sh.groupBy("shingle").agg(F.count("*").alias("c")).filter(F.col("c") > max_postings)
        postings = sh.join(hot.select("shingle"), "shingle", "left_anti")
    a = postings.select(F.col("id").alias("id_a"), "shingle")
    b = postings.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return _materialize_and_release(out, sh)


def _minhash_aggs(num_hashes: int, seed: int) -> list[Column]:
    """The k affine minhash aggregations h_i = min((a_i*rh + b_i) % mod)
    over a shingle table's ``rh`` column, each one SQL string (one
    ``F.expr``, not a dozen Column calls)."""
    return [
        F.expr(f"min(({a} * rh + {b}) % {HASH_MOD}) AS h{i}")
        for i, (a, b) in enumerate(hash_family(num_hashes, seed))
    ]


def _shingle_key(n: int) -> Column:
    """The exact identity of a ``shingle`` for the verify sets.  For
    n ≤ 3 its code points + 1 (0 past a short shingle's end), 21 bits
    each, in one long: 0x10FFFF + 1 < 2^21, so three fit in 63 bits, as
    one SQL string (one ``F.expr``).  For n ≥ 4 the shingle string."""
    if n > 3:
        return F.col("shingle")
    key = "0L"
    for i in range(1, n + 1):
        key = (
            f"shiftleft({key}, 21) | CASE WHEN length(shingle) >= {i} "
            f"THEN ascii(substring(shingle, {i}, 1)) + 1 ELSE 0 END"
        )
    return F.expr(key)


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
    seed: int = 42,
) -> DataFrame:
    """[id_a, id_b, jaccard] near-dup pairs: banded-LSH candidates,
    then EXACT n-gram Jaccard verification of candidates only (no
    false positives; recall is the standard 1-(1-s^r)^b curve —
    defaults r=8,b=16 put the S-curve knee at ≈(1/16)^(1/8)≈0.71).

    ``max_bucket_size`` skips band-buckets larger than the cap: on
    boilerplate-heavy corpora a mega-bucket means thousands of mutual
    near-dups whose pair list is quadratic; the cap bounds the worst
    case while other bands still recall pairs (None = no cap).

    Placement.  Two, chosen by one stats job over the raw texts and
    the size of the normalized texts.  When they fit the session's
    broadcast budget (``spark.sql.autoBroadcastJoinThreshold``; 48 B
    per doc, ``_BYTES_PER_CP`` per code point and 8 B per minhash) and
    the ids are integers, the operator collects the texts once with
    Arrow and runs everything on the driver (:func:`_minhash_on_driver`):
    the normalization of an ASCII corpus in pyarrow (Spark normalizes
    any other corpus in the collect), then in numpy the shingles, the
    rolling hash, the k minhashes on ``defaultParallelism`` threads,
    exact shingle-identity verify sets, bands, the capped candidate
    pairs (:mod:`.candidates`), the verify, the threshold and Spark's
    rounding, returned as a local relation with the Spark plan's rows.
    Above the budget (or when the candidates alone would outgrow it at
    16 B per pair, or with broadcasting off) the Spark plan runs.  ONE
    wide aggregation per doc computes the minhashes, the verify-set
    array and its size together (the shingle stream crosses exactly one
    shuffle), and:

    * Band buckets are ARRAYS of the band's minhash values, and
      candidate pairs come from ONE groupBy (:func:`.candidates.pair_frame`:
      collect ids per bucket, cap-filter, dedup the member arrays,
      pair-explode, one explicit-width pair dedup).
    * The exact verify joins the per-doc sets to the candidates on both
      ids (SHUFFLE_HASH) and intersects the arrays.

    Both placements verify over exact shingle identities, so |A∩B| is
    the same on both: the Spark plan's set elements are the shingles'
    code points packed into one long for n ≤ 3 and the shingle strings
    for larger n (:func:`_shingle_key`); the driver packs or ranks the
    code points (:func:`_text_shingles`).

    The Spark placement executes eagerly and releases its caches
    before returning (see _materialize_and_release); the driver
    placement caches nothing."""
    from ..session import broadcast_budget

    budget = broadcast_budget(df.sparkSession)
    if budget and isinstance(df.schema[id_col].dataType, INTEGRAL_IDS):
        out = _minhash_on_driver(
            df, id_col, text_col, n, num_hashes, bands, threshold, max_bucket_size, seed, budget
        )
        if out is not None:
            return out
    rows = num_hashes // bands
    sh = _shingles(df, id_col, text_col, n).withColumn("rh", char_hash("shingle", length=n))
    # ONE pass over the shingle stream computes, per doc: the k
    # minhashes, the exact verify set and its size — the shingle table
    # is never materialized or cached.
    per_doc = (
        sh.groupBy("id")
        .agg(
            *_minhash_aggs(num_hashes, seed),
            F.collect_list(_shingle_key(n)).alias("shs"),
            F.count(F.lit(1)).alias("sz"),
        )
        .cache()
    )
    # ONE job fills the cache before the final job: three of its
    # subtrees (the banded candidate side and both verify join sides)
    # read per_doc concurrently, and racing an unpopulated cache
    # recomputes the whole k-min aggregation once per subtree.  A global
    # aggregate scans every partition, so this job caches all of per_doc.
    per_doc.count()
    bands_sql = ", ".join(
        "named_struct('band', {}, 'bucket', array({}))".format(
            bi, ", ".join(f"h{bi * rows + r}" for r in range(rows))
        )
        for bi in range(bands)
    )
    banded = per_doc.select("id", F.expr(f"explode(array({bands_sql})) AS bb")).select(
        "id", "bb.band", "bb.bucket"
    )
    cand = pair_frame(banded, ["band", "bucket"], max_bucket_size)
    # exact verify on the candidate set via per-doc set ARRAYS +
    # array_intersect: two id-keyed SHUFFLE_HASH joins carry
    # O(candidates) rows, each holding one bounded doc-set array
    # (shingle count ≤ text length, which a corpus pipeline chunks) —
    # the exploded (id, shingle) equi-join variant materialized
    # O(candidates × shingles) join rows (266M at sf0.1, 18.6 s).
    def _ds(alias_id: str, alias_shs: str, alias_sz: str):
        return per_doc.select(
            F.col("id").alias(alias_id),
            F.col("shs").alias(alias_shs),
            F.col("sz").alias(alias_sz),
        ).hint("shuffle_hash")

    out = (
        cand.join(_ds("id_a", "sa", "sz_a"), "id_a")
        .join(_ds("id_b", "sb", "sz_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return _materialize_and_release(out, per_doc)


#: driver bytes per code point of the collected texts, rounded up from
#: the measured peak of numpy's allocations plus Arrow's pool in
#: :func:`_minhash_on_driver` (README, "Corpus operators: driver
#: placement")
_BYTES_PER_CP = 40

#: code points per driver chunk: a chunk's shingle columns and hash
#: temporaries stay cache-sized
_CP_CHUNK = 1 << 16


def _minhash_on_driver(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int | None,
    seed: int,
    budget: int,
) -> DataFrame | None:
    """All of minhash_dedup in numpy over one Arrow collect of the
    normalized texts: shingles, the rolling hash, the k minhashes and
    the verify sets (:func:`_text_shingles`), then bands, candidates,
    the exact verify, the threshold and Spark's rounding.

    Two Spark jobs.  The stats job reads the raw texts' ``length`` and
    ``octet_length``, at most one doc more than 48 + 8k B per doc can
    fit.  When every text is ASCII (the two lengths agree) the collect
    is the raw ``(id, text)`` and :func:`_norm_ascii` normalizes it on
    the driver, so the JVM runs no regex and no ICU case mapping; any
    other corpus collects ``(id, _NORM(text))``, so Java's regex and
    lower-casing stay exact.

    Same rows as the Spark plan: a null or empty text yields no
    shingle and a null id never pairs; a repeated id unions its texts'
    shingles, takes the min of their minhashes and counts each text's
    distinct shingles in |A|, as ``count(1)`` over the grouped rows
    does.

    None when the gate fails or when the candidates would outgrow the
    budget at 16 B per pair; the Spark plan then runs.  The collect
    runs while 48 + 8k B per doc plus the raw octets fit the budget,
    and the placement while 48 B per doc, ``_BYTES_PER_CP`` per code
    point of the normalized texts and 8 B per minhash do."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..graph import local_frame

    spark = df.sparkSession
    raw = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")).filter(
        F.col("id").isNotNull()
    )
    # the stats job collects two lengths per doc (a global aggregate
    # would run as two jobs: its exchange is a query stage of its own),
    # and at most one doc more than the budget can hold (whose estimate
    # then exceeds it): each task stops reading there, and the driver
    # never holds more lengths than that
    per_doc = 48 + 8 * num_hashes
    stats = raw.select(F.length("_t").alias("l"), F.octet_length("_t").alias("o"))
    stats = stats.limit(budget // per_doc + 1).toArrow()
    n_docs, octets = stats.num_rows, pc.sum(stats["o"]).as_py() or 0
    if not 0 < per_doc * n_docs + octets <= budget:
        return None
    # every non-null text ASCII: one code point per byte
    if pc.all(pc.equal(stats["l"], stats["o"])).as_py() is not False:
        table = raw.toArrow()
        table = table.set_column(1, "_t", _norm_ascii(table["_t"]))
    else:
        table = raw.select("id", _NORM(F.col("_t")).alias("_t")).toArrow()
    # the empty-text filter runs on the driver: in Spark, Catalyst would
    # push it below the projection and run the normalization twice per row
    lens = pc.utf8_length(table["_t"])
    n_cps = pc.sum(lens).as_py() or 0
    if per_doc * n_docs + _BYTES_PER_CP * n_cps > budget:
        return None
    table = table.filter(pc.greater(lens, 0)).sort_by("id")
    id_type = table.schema.field("id").type
    if table.num_rows == 0:  # every text normalized to ""
        none = pa.array([], type=id_type)
        return local_frame(
            spark, {"id_a": none, "id_b": none, "jaccard": pa.array([], type=pa.float64())}
        )
    ids = table["id"].to_numpy()
    texts = table["_t"].combine_chunks()
    del table
    threads = spark.sparkContext.defaultParallelism
    sig, key = _text_shingles(texts, n, hash_family(num_hashes, seed), threads)
    del texts
    indptr, flat = set_csr(key, len(ids))
    del key
    sz = np.diff(indptr)
    new = np.append(True, ids[1:] != ids[:-1])
    uid = ids[new]
    nu = len(uid)
    if nu < len(ids):  # repeated ids: one set, one signature and one |A| per id
        grp = np.flatnonzero(new)
        sig = np.minimum.reduceat(sig, grp, axis=1)
        rank = np.cumsum(new) - 1
        indptr, flat = set_csr(np.repeat(rank << 31, sz) | flat, nu)
        sz = np.add.reduceat(sz, grp)
    rows = num_hashes // bands
    # (band, its minhashes) per doc: minhashes are < 2^31, so two share
    # one sort key
    keys = np.concatenate(
        [pack31([np.full(nu, bi), *sig[bi * rows : (bi + 1) * rows]]) for bi in range(bands)]
    )
    del sig
    pairs = bucket_pairs(keys, np.tile(np.arange(nu), bands), max_bucket_size, budget // 16)
    if pairs is None:
        return None
    a, b = pairs
    inter = set_overlaps(indptr, flat, a, b, threads)
    jac = inter / (sz[a] + sz[b] - inter)
    keep = spark_ge(jac, threshold)
    return local_frame(
        spark,
        {
            "id_a": pa.array(uid[a[keep]], type=id_type),
            "id_b": pa.array(uid[b[keep]], type=id_type),
            "jaccard": spark_round(jac[keep]),
        },
    )


def _text_shingles(texts, n: int, family: list[tuple[int, int]], threads: int):
    """(sig, key) for a non-null Arrow string array of non-empty texts:
    ``sig[i, t]`` is minhash i of text t, and ``key`` holds one
    ``t << 31 | s`` per shingle position for :func:`.candidates.set_csr`,
    where s identifies the shingle exactly.

    Text t's shingles are its code-point substrings of length n at
    positions 1..max(L-n+1, 1), as ``sequence``/``substr`` cut them
    (a text shorter than n is one short shingle); each one's rolling
    hash is :func:`char_hash`'s left fold ``(acc * HASH_BASE + cp) %
    HASH_MOD`` and minhash i is ``min((a_i * rh + b_i) % HASH_MOD)``.
    A shingle is its n code points + 1 (0 past a short text's end) at
    w bits each, w bounded by the widest UTF-8 lead byte; packings
    wider than 31 bits are replaced by their dense ranks.

    Texts go in chunks of about ``_CP_CHUNK`` code points on
    ``threads`` threads (numpy's arithmetic releases the GIL)."""
    import numpy as np
    import pyarrow.compute as pc

    from ..operators.kernels import parallel_map

    nt = len(texts)
    lens = pc.utf8_length(texts).to_numpy().astype(np.int64)
    per_text = np.maximum(lens - n + 1, 1)  # shingle positions per text
    occ = np.zeros(nt + 1, dtype=np.int64)
    np.cumsum(per_text, out=occ[1:])
    cstart = np.zeros(nt + 1, dtype=np.int64)
    np.cumsum(lens, out=cstart[1:])
    data = texts.buffers()[2]
    boff = np.frombuffer(texts.buffers()[1], dtype=np.int32)[texts.offset : texts.offset + nt + 1]
    top = int(np.frombuffer(data, dtype=np.uint8)[boff[0] : boff[-1]].max(initial=0))
    w = 8 if top < 0x80 else 12 if top < 0xE0 else 17 if top < 0xF0 else 21
    g = min(n, 63 // w)  # code points packed into the first word
    direct = n * w <= 31  # the packing is the identity, and the text rides along
    word = np.empty(occ[-1], dtype=np.int64)
    rest = np.empty((n - g, occ[-1]), dtype=np.int32)
    sig = np.empty((len(family), nt), dtype=np.int64)

    def chunk(t0: int, t1: int):
        text = str(memoryview(data)[boff[t0] : boff[t1]], "utf-8")
        cp = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(np.int64) + 1
        cp = np.append(cp, np.zeros(n, dtype=np.int64))
        m = per_text[t0:t1]
        first = occ[t0:t1] - occ[t0]
        pos = np.arange(occ[t1] - occ[t0]) + np.repeat(cstart[t0:t1] - cstart[t0] - first, m)
        end = np.repeat(cstart[t0 + 1 : t1 + 1] - cstart[t0], m)
        rh = np.zeros(len(pos), dtype=np.int64)
        code = np.zeros(len(pos), dtype=np.int64)
        for j in range(n):
            c = np.where(pos + j < end, cp[pos + j], 0)
            rh = np.where(c > 0, (rh * HASH_BASE + c - 1) % HASH_MOD, rh)
            if j < g:
                code = (code << w) | c
            else:
                rest[j - g, occ[t0] : occ[t1]] = c
        if direct:
            code |= np.repeat(np.arange(t0, t1, dtype=np.int64) << 31, m)
        word[occ[t0] : occ[t1]] = code
        for i, (a, b) in enumerate(family):
            x = rh * a
            x += b
            np.remainder(x, HASH_MOD, out=x)
            sig[i, t0:t1] = np.minimum.reduceat(x, first)

    bounds = np.searchsorted(cstart[:-1], np.arange(0, cstart[-1], _CP_CHUNK))
    bounds = np.unique(np.append(bounds, nt))
    parallel_map(chunk, bounds[:-1], bounds[1:], threads)
    for j in range(n - g):
        word = _dense_ranks(word)
        word <<= w
        word |= rest[j]
    if not direct:
        # ranks stay below the distinct-shingle count, so each verify
        # bitmap (max value + 1 bytes) is at most one byte per shingle
        word = _dense_ranks(word)
        word |= np.repeat(np.arange(nt, dtype=np.int64) << 31, per_text)
    return sig, word


def _dense_ranks(x):
    """Each value's rank among the distinct values of the int64 array
    ``x``, which it sorts in place: two sorts, and at most three arrays
    of ``x``'s size alive at once (``np.unique`` holds five)."""
    import numpy as np

    perm = np.argsort(x)
    x.sort()
    new = np.empty(len(x), dtype=bool)
    new[:1] = True
    np.not_equal(x[1:], x[:-1], out=new[1:])
    np.cumsum(new, out=x)
    del new
    x -= 1
    out = np.empty_like(x)
    out[perm] = x
    return out


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", seed: int = 42
) -> DataFrame:
    """[id, simhash: long] — 64-bit SimHash over whitespace tokens,
    entirely JVM-side: one rolling hash per token, bit b's indicator is
    the parity of the b-th affine map of it ((a_b*h+c_b mod 2^31-1)
    mod 2, 64 independent-parity bits), each token contributes ±1 per
    bit, sign of the bit-sum sets the signature bit.  The 64 bit sums
    and the signature go to the JVM as SQL text, one ``F.expr`` each."""
    df = _spread(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(_NORM(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.length("tok") > 0).withColumn("rh", char_hash("tok"))
    sums = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (({a} * rh + {c}) % {HASH_MOD}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
            )
            for b, (a, c) in enumerate(hash_family(64, seed))
        ]
    )
    # bit 63 carries the sign: its weight is -2^63 in a signed long
    sig = " + ".join(
        ["0L"]
        + [f"CASE WHEN b{b} > 0 THEN 1L * {2**b if b < 63 else -(2**63)} ELSE 0 END" for b in range(64)]
    )
    return sums.select("id", F.expr(f"{sig} AS simhash"))


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """[id_a, id_b, hamming] — SimHash near-dups: 4×16-bit quarter
    buckets (any pair within Hamming ≤3 of 64 bits shares ≥1 exact
    16-bit quarter by pigeonhole) via one groupBy-collect +
    pair-explode, then exact Hamming verify.  Executes eagerly (see
    _materialize_and_release)."""
    sig = simhash_signatures(df, id_col, text_col)
    quarters = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned("simhash", q * 16).bitwiseAND(F.lit(0xFFFF)).alias("qv"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("s"),
    ).select("id", "simhash", "s.q", "s.qv")
    # candidate pairs from ONE groupBy per quarter-bucket, carrying the
    # signatures inside the collected structs so no rejoin is needed
    # (r7 — the old plan cached the signature table and shuffled the
    # exploded quarters three times: bucket self-join both sides plus
    # the pair distinct); sort_array orders by id (the struct's leading
    # field, unique), so slice-pairs reproduce x.id < y.id exactly.
    members = quarters.groupBy("q", "qv").agg(
        F.array_sort(F.collect_list(F.struct("id", "simhash"))).alias("ms")
    )
    cand = (
        members.filter(F.size("ms") >= 2)
        .select(F.posexplode("ms").alias("_i", "a"), F.col("ms"))
        .select("a", F.explode(F.slice("ms", F.col("_i") + 2, F.size("ms"))).alias("b"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    out = (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _materialize_and_release(out)


def dup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """[doc_id, canonical_id, keep] — close a near-dup PAIR list (from
    any of exact/jaccard/minhash/simhash/embedding dedup) into duplicate
    CLUSTERS and pick one canonical survivor per cluster.

    Near-duplication is not transitive, but production dedup keeps one
    doc per CONNECTED component of the pair graph (the standard
    MinHash-dedup contract — e.g. the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" pipeline); canonical =
    the component's minimum doc id, so the keep-set is deterministic.

    The closure IS our link-graph engine: the pair list becomes a
    :class:`~pgd_spark.graph.Graph` and components come from the
    Pregel ``connected_components`` operator (hashmin; O(diameter)
    rounds — dup clusters are near-cliques, so 2-3 rounds), which
    means the same skew handling, lazy round-chaining, and
    checkpoint/resume apply at corpus scale.  Docs in no pair are
    their own canonical (``keep = 1``).

    ``docs`` (optional): the full corpus frame; when given, every doc
    id appears in the output (singletons included) — omit it to get
    only the docs that are in some duplicate cluster.

    Doc ids must be integral (int64 vertex ids — the link-graph
    contract).  Non-integral ids would silently cast to null, drop
    every edge, and report keep=1 for all docs (ADVICE r5), so the id
    columns are schema-checked up front: integer types and
    ``decimal(p,0)`` with p <= 18 pass, anything else (wider decimals
    included) raises TypeError; map string ids through a vertex map
    (sources.transcripts.vertex_map pattern) first.
    """
    from ..graph import Graph, check_id_columns
    from ..operators.pregel import connected_components

    check_id_columns(pairs, (a_col, b_col), "pairs")
    if docs is not None:
        check_id_columns(docs, (id_col,), "docs")

    g = Graph.from_edges(pairs, src=a_col, dst=b_col)
    cc = connected_components(g, checkpoint_dir=checkpoint_dir)
    clustered = cc.select(
        F.col("v").alias(id_col), F.col("component").alias("canonical_id")
    )
    if docs is not None:
        everyone = docs.select(F.col(id_col).cast("long").alias(id_col)).distinct()
        clustered = (
            everyone.join(clustered, id_col, "left")
            .select(
                id_col,
                F.coalesce("canonical_id", F.col(id_col)).alias("canonical_id"),
            )
        )
    return clustered.withColumn(
        "keep", (F.col(id_col) == F.col("canonical_id")).cast("int")
    )
