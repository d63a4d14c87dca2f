"""minhash_dedup and embedding_neardup_pairs finish on the driver when
the table their verify reads fits the broadcast budget, and run the
Spark plan otherwise (``spark.sql.autoBroadcastJoinThreshold=-1``
selects it).  Both placements must return the same rows with the same
schema, bit for bit."""

import contextlib
import math
import random

import string

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pgd_spark.functions import candidates, dedup
from pgd_spark.functions.dedup import minhash_dedup
from pgd_spark.functions.similarity import embedding_neardup_pairs

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _budget(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _on_driver(df) -> bool:
    return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df):
    # repr keeps NaN comparable and compares doubles bit for bit
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def _agree(spark, call, driver=True):
    """Run ``call`` in both placements; the rows of the default one and
    their schema must equal the Spark plan's."""
    got = call()
    with _budget(spark, -1):
        want = call()
    assert _on_driver(got) is driver
    assert not _on_driver(want)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert _rows(got) == _rows(want)
    return got


def _words(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 7))) for _ in range(n)]


def _corpus(seed: int = 7, n: int = 50):
    """(id, text) rows: random texts, one in three an edited copy of
    another, twelve identical copies (ids 100..111), a repeated id and a
    null id holding a copy of doc 0."""
    rng = random.Random(seed)
    vocab = _words(rng, 60)
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(6, 20))) for _ in range(n)]
    for i in range(0, n, 3):
        toks = texts[i].split()
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        texts.append(" ".join(toks))
    rows = list(enumerate(texts))
    rows += [(100 + i, texts[4]) for i in range(12)]
    rows += [(1, texts[2] + " " + rng.choice(vocab)), (None, texts[0])]
    return rows


def _rolling_hash(s: str) -> int:
    acc = 0
    for c in s:
        acc = (acc * dedup.HASH_BASE + ord(c)) % dedup.HASH_MOD
    return acc


@pytest.mark.parametrize("cap,id_type", [(1000, "long"), (5, "int"), (None, "long")])
def test_minhash_placements_agree(spark, cap, id_type):
    docs = spark.createDataFrame(_corpus(), f"doc_id {id_type}, text string")
    out = _agree(
        spark,
        lambda: minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5, max_bucket_size=cap),
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs and all(a < b for a, b in pairs)
    copies = {(a, b) for a in range(100, 112) for b in range(a + 1, 112)}
    # the twelve copies share every bucket: a cap below 12 drops them all
    if cap == 5:
        assert not copies & pairs
    else:
        assert copies <= pairs


def test_minhash_colliding_hashes_placements_agree(spark):
    """Non-ASCII shingles whose rolling hashes collide: both placements
    verify over exact shingle identities (packed code points), so the
    colliding shingles do not count as shared."""
    # (0x20000, 0x51F1, 0x4E00) and (0x20001, 0x4E00, 0x4E00) hash alike
    # (0x51F1 = 0x4E00 + HASH_BASE): a positional code past its base
    s1, s2 = "\U00020000凱一", "\U00020001一一"
    assert _rolling_hash(s1) == _rolling_hash(s2)
    cjk = [chr(0x4E10 + i) for i in range(200)]
    rng = random.Random(3)
    base = ["".join(rng.choice(cjk) for _ in range(40)) for _ in range(8)]
    rows = [(i, t + s1) for i, t in enumerate(base)]
    rows += [(10 + i, t + s2) for i, t in enumerate(base)]
    rows += [(20 + i, t[:-1] + s1) for i, t in enumerate(base)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = _agree(spark, lambda: minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.8))
    assert {(0, 20), (1, 21)} <= {(r.id_a, r.id_b) for r in out.collect()}


def test_minhash_empty_corpus_placements_agree(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert _agree(spark, lambda: minhash_dedup(docs), driver=False).count() == 0


@pytest.mark.parametrize("texts", [[None], ["  "], [None, "", "   ", None]])
def test_minhash_blank_corpus_placements_agree(spark, texts):
    """Integer ids whose texts all normalize to "": the gate counts the
    docs and passes, the driver finds no text left and returns no rows,
    like the Spark plan, which drops every row as it cuts shingles."""
    docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id int, text string")
    assert _agree(spark, lambda: minhash_dedup(docs, num_hashes=32, bands=8)).count() == 0


def test_minhash_stats_job_stops_at_budget(spark, monkeypatch):
    """Above the budget the stats job collects one length more than the
    budget holds at 48 + 8k bytes per doc, not one per doc."""
    rows = [(i, f"text number {i}") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    collected = []
    cls = type(docs)
    real = cls.toArrow
    monkeypatch.setattr(cls, "toArrow", lambda df: collected.append(real(df)) or collected[-1])
    per_doc = 48 + 8 * 32
    with _budget(spark, 10 * per_doc):
        out = minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5)
    assert not _on_driver(out)
    assert [t.num_rows for t in collected] == [11]


def test_minhash_rounds_half_up(spark):
    """Jaccard 125/128 = 0.9765625 sits on a rounding tie: Spark's
    round(x, 6) gives 0.976563, half-to-even would give 0.976562."""
    chars = [chr(0x4E00 + i) for i in range(128)]
    a = "".join(chars)  # 126 distinct shingles
    b = "".join(chars[:127]) + "龠龡"  # 127: 125 shared
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = _agree(spark, lambda: minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.9))
    assert [tuple(r) for r in out.collect()] == [(1, 2, 0.976563)]


def test_spark_round_matches_spark(spark):
    rng = np.random.default_rng(4)
    xs = np.concatenate(
        [
            np.arange(1, 2048) / 2048.0,  # every dyadic tie at the 7th decimal
            (np.arange(0, 4000) + 0.5) / 1e6,  # decimal ties, not exact in binary
            rng.random(3000) * 2 - 1,
            [0.0, -0.0, 1.0, -1.0, 1e-7, 5e-7, -5e-7, 1e300, -2.5e-6, np.nan, np.inf, -np.inf],
        ]
    )
    df = spark.createDataFrame([(i, float(x)) for i, x in enumerate(xs)], "i long, x double")
    want = [r[0] for r in df.orderBy("i").select(F.round("x", 6)).collect()]
    got = candidates.spark_round(xs).tolist()
    assert [repr(v) for v in got] == [repr(v) for v in want]


def test_minhash_gate_follows_budget(spark):
    """The driver placement runs exactly while the collected texts fit
    the budget: 48 B per doc, _BYTES_PER_CP per code point of the
    normalized text and 8 B per minhash."""
    rows = [(i, t) for i, t in _corpus(n=20) if i is not None]
    rows.append((500, "  "))  # normalizes to "": counted, then dropped
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cps = sum(len(" ".join(t.split()).lower()) for _, t in rows)
    est = 48 * len(rows) + dedup._BYTES_PER_CP * cps + 8 * 32 * len(rows)
    call = lambda: minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5)  # noqa: E731
    with _budget(spark, est):
        at = call()
    with _budget(spark, est - 1):
        below = call()
    assert _on_driver(at) and not _on_driver(below)
    assert _rows(at) == _rows(below)


def _edge_texts():
    """(id, text) rows that probe the shingle semantics: null, empty and
    blank texts, texts shorter than n, whitespace runs the normalization
    folds, control characters and non-ASCII spaces it keeps, upper
    case, non-ASCII and non-BMP code points, a null id, repeated ids
    (one holding a short and a long text) and near-duplicate groups so
    that pairs pass the threshold."""
    base = [
        "the quick brown fox jumps over the lazy dog",
        "Ünïcödé  wörds\tand   ÄÖÜ letters here",
        "emoji \U0001F600 text \U0001F601 with astral \U00020000 chars",
        "日本語のテキストと中国语的文本混在",
    ]
    rows = []
    for i, t in enumerate(base):
        rows += [(10 * i, t), (10 * i + 1, t + " x"), (10 * i + 2, t.upper())]
    rows += [
        (100, None), (101, ""), (102, "   "), (103, "\n\n"), (104, "a"), (105, "ab"),
        (106, "ab"), (107, "\U0001F600"), (108, "é\U0001F600"), (109, " ab "),
        (110, "ab"), (110, base[0]), (111, base[0] + " y"), (1, base[1][:5]),
        (None, base[0]), (None, None),
        # runs of tab, VT, FF and CR, leading and trailing tabs: Java's
        # \s folds each run to one space, and trim keeps the tabs
        (200, "\tthe quick\t\tbrown\x0b\x0bfox\x0c\x0cjumps\r\rover the lazy dog\t"),
        (201, "\t\t" + base[0].upper() + " z\t\t"),
        (202, "\t A\x0bB\x0cC\rD\nE  F \t"), (203, "a\x1cb\x1fc\x00d a\x1cb\x1fc\x00d"),
        # non-ASCII spaces, which \s leaves as they are
        (300, "the quick\u00a0brown fox jumps\u2003over the lazy dog"),
        (301, "the quick\u00a0brown fox jumps\u2003over the lazy dog z"),
    ]
    return rows


def _collected_plans(monkeypatch, df) -> list[str]:
    """The optimized plans of the frames collected with Arrow from now on."""
    plans = []
    cls = type(df)
    real = cls.toArrow

    def record(frame):
        plans.append(frame._jdf.queryExecution().optimizedPlan().toString())
        return real(frame)

    monkeypatch.setattr(cls, "toArrow", record)
    return plans


def _normalizes_in_spark(plan: str) -> bool:
    return "lower(" in plan or "regexp_replace(" in plan


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
def test_minhash_edge_texts_placements_agree(spark, monkeypatch, n):
    """Both placements return the same rows on texts that exercise every
    shingle packing: ASCII-width direct codes, dense ranks of 63-bit
    packings (non-BMP, n = 3) and the chained ranks past 63 bits
    (n = 4, 5).  The corpus is not all ASCII, so the driver placement
    collects Spark's normalization; its stats job reads raw lengths."""
    docs = spark.createDataFrame(_edge_texts(), "doc_id long, text string")
    plans = _collected_plans(monkeypatch, docs)
    out = _agree(
        spark, lambda: minhash_dedup(docs, n=n, num_hashes=32, bands=16, threshold=0.3)
    )
    assert out.count() > 0
    assert len(plans) == 2
    assert not _normalizes_in_spark(plans[0]) and _normalizes_in_spark(plans[1])


def test_minhash_ascii_shingles_placements_agree(spark, monkeypatch):
    """An ASCII corpus with texts shorter than n: the code points pack
    into the set key directly.  The driver normalizes the texts, so
    neither Spark job runs the case mapping or the regex."""
    rows = [(i, t) for i, t in _edge_texts() if t is None or t.isascii()]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    plans = _collected_plans(monkeypatch, docs)
    for n in (1, 3, 5):
        plans.clear()
        out = _agree(
            spark, lambda: minhash_dedup(docs, n=n, num_hashes=32, bands=16, threshold=0.3)
        )
        assert out.count() > 0
        assert len(plans) == 2
        assert not any(map(_normalizes_in_spark, plans))


_SPACES = " \t\n\x0b\x0c\r\x00\x1c\x1d\x1e\x1f"


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(string.ascii_letters + _SPACES, max_size=24), min_size=1, max_size=60))
def test_ascii_normalization_matches_spark(spark, texts):
    """The driver's normalization of ASCII text equals Spark's
    ``_NORM``: trim strips only U+0020, a run of Java's \\s class
    ``[ \\t\\n\\x0B\\f\\r]`` becomes one space, and \\x00 and
    \\x1c-\\x1f stay."""
    import pyarrow as pa

    texts = ["\t A\x0bB\x0cC\rD\nE  F \t", None, *texts]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    want = [r[0] for r in df.orderBy("i").select(dedup._NORM(F.col("t"))).collect()]
    got = dedup._norm_ascii(pa.array(texts)).to_pylist()
    assert got == want
    assert got[:2] == [" a b c d e f ", None]


@pytest.mark.parametrize("text", ["ab", "é", "\U0001F600", "a\U0001F600", "\U0001F600ab", "abcd"])
def test_char_hash_matches_driver_fold(spark, text):
    """char_hash's unrolled branch (length n) and its fold branch (any
    other length) equal the driver's rolling hash: a text of length L
    is one shingle for every n >= L, and the affine map (1, 0) makes
    the minhash that shingle's hash."""
    import pyarrow as pa

    df = spark.createDataFrame([(text,)], "s string")
    got = df.select(
        dedup.char_hash("s", length=len(text)),
        dedup.char_hash("s", length=len(text) + 1),
        dedup.char_hash("s"),
    ).first()
    for n in (len(text), len(text) + 2):
        sig, _ = dedup._text_shingles(pa.array([text]), n, [(1, 0)], 1)
        assert list(got) == [int(sig[0, 0])] * 3 == [_rolling_hash(text)] * 3


@pytest.mark.parametrize("n", [2, 3, 4])
def test_text_shingles_against_loop(monkeypatch, n):
    """The driver's shingle kernel against a plain loop, on chunks of a
    few code points handed to threads under a short switch interval:
    per text, the minhashes and the number of distinct shingles, and
    set values bounded by the shingle count."""
    import sys

    import pyarrow as pa

    rng = random.Random(n)
    alphabet = "abc é日\U0001F600"
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12))) for _ in range(80)]
    family = dedup.hash_family(6, seed=n)
    monkeypatch.setattr(dedup, "_CP_CHUNK", 7)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        sig, key = dedup._text_shingles(pa.array(texts), n, family, threads=8)
    finally:
        sys.setswitchinterval(old)
    # every packing here is wider than 31 bits: the shingles are ranked,
    # so the verify's bitmaps stay within one byte per shingle position
    assert int((key & ((1 << 31) - 1)).max()) < len(key)
    sizes = np.diff(candidates.set_csr(key, len(texts))[0])
    for t, text in enumerate(texts):
        grams = {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}
        assert sizes[t] == len(grams)
        hashes = [_rolling_hash(g) for g in grams]
        want = [min((a * h + b) % dedup.HASH_MOD for h in hashes) for a, b in family]
        assert sig[:, t].tolist() == want


def test_minhash_driver_runs_two_jobs(spark):
    """The driver placement runs one stats job and one Arrow collect."""
    docs = spark.createDataFrame(_corpus(), "doc_id long, text string")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5)  # warm the session
    for budget, most in (("64m", 2), (-1, None)):
        group = f"minhash-jobs-{budget}"
        sc.setJobGroup(group, group)
        try:
            with _budget(spark, budget):
                out = minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(tracker.getJobIdsForGroup(group))
        if most is None:
            assert not _on_driver(out) and jobs > 2
        else:
            assert _on_driver(out) and 1 <= jobs <= most


def test_minhash_spark_plan_runs_one_job_set(spark):
    """Above the budget the Spark plan launches the same jobs for every
    corpus: ASCII and Cyrillic text (code points past the rolling
    hash's base) and shingles of 3 or 5 characters."""
    rows = [(i, t) for i, t in _corpus() if i is not None]
    cyrillic = [(i, t.translate(str.maketrans("aeiou", "аеиоу"))) for i, t in rows]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    with _budget(spark, -1):
        for name, corpus, n in (("ascii3", rows, 3), ("cyrillic3", cyrillic, 3), ("ascii5", rows, 5)):
            docs = spark.createDataFrame(corpus, "doc_id long, text string")
            minhash_dedup(docs, n=n, num_hashes=32, bands=8, threshold=0.5)  # warm the plan
            group = f"minhash-spark-jobs-{name}"
            sc.setJobGroup(group, group)
            try:
                minhash_dedup(docs, n=n, num_hashes=32, bands=8, threshold=0.5)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jobs[name] = len(tracker.getJobIdsForGroup(group))
    assert len(set(jobs.values())) == 1, jobs


def _scan(spark, tmp_path, rows, schema):
    """A parquet scan of ``rows``: Catalyst sizes it from its files, as
    it sizes a corpus read (a frame built from Python rows has no size
    estimate, so Catalyst would never broadcast it)."""
    path = str(tmp_path / "items.parquet")
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def _estimate(items) -> int:
    sel = items.select("vec_id", "embedding")
    return int(str(sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _items(kind: str):
    """(id, vector) rows: 40 random 8-d vectors, an edited copy of every
    fourth, twelve identical vectors (ids 100..111) and a null id; plus
    two vectors of the given kind."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 8)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    near = base + (0.05 * rng.standard_normal((40, 8))).astype(np.float32)
    rows += [(50 + i, near[i].tolist()) for i in range(0, 40, 4)]
    rows += [(100 + i, base[7].tolist()) for i in range(12)]
    rows.append((None, base[3].tolist()))
    odd = {
        "plain": [],
        "nan": [(200, [math.nan] + base[5][1:].tolist()), (201, base[5].tolist()[:7] + [math.nan])],
        "null": [(200, None), (201, base[5].tolist())],
        "short": [(200, base[5].tolist()[:6]), (201, base[5].tolist()[:6])],
        "null_element": [(200, [None] + base[5][1:].tolist()), (201, base[5].tolist())],
        "repeated_id": [(5, base[6].tolist())],
    }[kind]
    return rows + odd


@pytest.mark.parametrize(
    "kind,driver",
    [
        ("plain", True),
        ("nan", True),
        ("null", False),
        ("short", False),
        ("null_element", False),
        ("repeated_id", False),
    ],
)
@pytest.mark.parametrize("cap,dim", [(None, 8), (5, None)])
def test_neardup_placements_agree(spark, tmp_path, kind, driver, cap, dim):
    items = _scan(spark, tmp_path, _items(kind), "vec_id long, embedding array<float>")
    out = _agree(
        spark,
        lambda: embedding_neardup_pairs(
            items, threshold=0.6, bits=5, tables=4, dim=dim, max_bucket=cap
        ),
        driver=driver,
    )
    sims = {(r.id_a, r.id_b): r.sim for r in out.collect()}
    assert (0, 50) in sims
    assert ((100, 101) in sims) is (cap is None)
    if kind == "nan" and cap is None:
        # NaN orders above every double in Spark: the NaN vectors share
        # the all-ones buckets and their NaN cosine passes the threshold
        assert math.isnan(sims[(200, 201)])


def test_neardup_double_vectors_and_int_ids(spark, tmp_path):
    rows = [(i, [float(x) for x in v]) for i, v in _items("plain") if i is not None]
    items = _scan(spark, tmp_path, rows, "vec_id int, embedding array<double>")
    _agree(spark, lambda: embedding_neardup_pairs(items, threshold=0.6, bits=3, tables=4, dim=8))


def test_neardup_gate_follows_scan_estimate(spark, tmp_path):
    """The driver placement runs while the scan's size estimate fits the
    budget, and collects at most budget / (8 + 4·dim) rows: a frame
    whose estimate is below the budget but whose rows are not keeps the
    Spark plan."""
    # no identical copies: their candidates alone would outgrow a budget
    # this small (16 B per pair)
    rows = [r for r in _items("plain") if r[0] is not None and r[0] < 100]
    items = _scan(spark, tmp_path, rows, "vec_id long, embedding array<float>")
    est = _estimate(items)
    assert est >= len(rows) * (8 + 4 * 8)
    def call(df):
        return embedding_neardup_pairs(df, threshold=0.6, bits=6, tables=4, dim=8)

    with _budget(spark, est):
        at = call(items)
    with _budget(spark, est - 1):
        below = call(items)
    assert _on_driver(at) and not _on_driver(below)
    assert _rows(at) == _rows(below)
    # a local relation's estimate counts 4 bytes per array
    local = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows], "embedding": [np.float32(r[1]) for r in rows]}
        )
    )
    assert _on_driver(local)
    small = _estimate(local)
    assert small < len(rows) * (8 + 4 * 8)
    with _budget(spark, small):
        assert not _on_driver(call(local))


def test_placements_release_caches(spark, tmp_path):
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = spark.createDataFrame(_corpus(n=20), "doc_id long, text string")
    items = _scan(spark, tmp_path, _items("plain"), "vec_id long, embedding array<float>")
    for budget in ("64m", -1):
        with _budget(spark, budget):
            cm.clearCache()
            minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5)
            embedding_neardup_pairs(items, threshold=0.6, bits=3, tables=4, dim=8)
            assert cm.isEmpty(), budget


def test_bucket_pairs_against_loop():
    """The numpy candidate builder against a plain loop over buckets,
    on its key matrix as it is and with two minhash-sized columns (up to
    HASH_MOD - 1) packed into one sort key."""
    rng = np.random.default_rng(9)
    n, tables = 300, 5
    top = dedup.HASH_MOD - 1
    keys = np.column_stack(
        [
            np.repeat(np.arange(tables), n),
            rng.integers(0, 10, n * tables),
            top - rng.integers(0, 2, n * tables),
            rng.choice([0, top], n * tables),
        ]
    )
    packed = candidates.pack31(list(keys.T))
    odd = np.column_stack([keys[:, 0], candidates.pack31(list(keys.T[1:]))])
    assert packed.shape[1] == 2 and odd.shape[1] == 3
    members = np.tile(np.arange(n), tables)
    for cap in (None, 6, 12):
        want = set()
        for key in {tuple(k) for k in keys.tolist()}:
            ms = sorted(members[(keys == key).all(axis=1)].tolist())
            if 2 <= len(ms) and (cap is None or len(ms) <= cap):
                want |= {(a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]}
        for k in (keys, packed, odd):
            a, b = candidates.bucket_pairs(k, members, cap, 10**9)
            assert list(zip(a.tolist(), b.tolist())) == sorted(want)
        assert candidates.bucket_pairs(packed, members, cap, len(want) - 1) is None


def test_set_overlaps_against_sets(monkeypatch):
    rng = np.random.default_rng(2)
    sets = [set(rng.integers(0, 50, rng.integers(1, 30)).tolist()) for _ in range(60)]
    rows = np.concatenate([np.full(len(s), i) for i, s in enumerate(sets)])
    vals = np.concatenate([sorted(s) for s in sets])
    # repeated entries of a row count once, as collect_list duplicates do
    indptr, flat = candidates.set_csr(
        (np.concatenate([rows, rows[:40]]) << 31) | np.concatenate([vals, vals[:40]]), 60
    )
    a, b = np.triu_indices(60, 1)
    want = [len(sets[i] & sets[j]) for i, j in zip(a, b)]
    assert candidates.set_overlaps(indptr, flat, a, b).tolist() == want
    # shuffled pairs (runs of one a) on threads, in small chunks
    order = np.random.default_rng(3).permutation(len(a))
    monkeypatch.setattr(candidates, "_CHUNK", 64)
    got = candidates.set_overlaps(indptr, flat, a[order], b[order], threads=3)
    assert got.tolist() == [want[i] for i in order]


def test_job_economy_needs_no_python_row_rdd(spark, monkeypatch):
    """Partition counts are read JVM-side: minhash_dedup's spread and
    pagerank's pinned width never wrap a plan in a Python row RDD."""
    from pgd_spark.operators.pregel import pagerank
    from tests.conftest import make_graph

    def no_rdd(self):
        raise AssertionError("DataFrame.rdd called")

    docs = spark.createDataFrame(_corpus(n=20), "doc_id long, text string").coalesce(1)
    g = make_graph(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    monkeypatch.setattr(type(docs), "rdd", property(no_rdd))
    for budget in ("64m", -1):
        with _budget(spark, budget):
            minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.5).collect()
    assert pagerank(g, max_iter=3).count() == 4
