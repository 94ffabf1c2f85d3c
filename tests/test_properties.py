"""Property-based tests (SURVEY.md §5.2 #4): tokenizer equivalence against
an independent reference reimplementation on random inputs, aggregation
invariants, and top-k stability under repartitioning.

Hypothesis drives the data; each example batches many strings into ONE
Spark job (a session per example would be prohibitively slow).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tests.test_wordcount import reference_wordcount
from toy_map_reduce_spark.operators.wordcount import tokenize
from toy_map_reduce_spark.tables import load

# printable ASCII + whitespace runs + a few safe non-ASCII chars (they get
# stripped by the ASCII word class after lowering — exercising the strip
# path). Turkish dotted-I / ligatures excluded: Java and Python case
# mappings genuinely differ there and the reference is JVM-only anyway.
_ALPHABET = st.sampled_from(
    list("abcXYZ012_ .,!?-@#\t") + ["é", "ü", "ñ", "日", "語"]
)
_TEXT = st.text(alphabet=_ALPHABET, min_size=0, max_size=60)


@settings(max_examples=8, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=30))
def test_tokenizer_matches_reference(spark, texts):
    """Spark pipeline count == independent Python reference tokenizer count
    (modulo the pinned trailing-empty-token difference, normalized the same
    way as the golden corpus test)."""
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = Counter()
    for r in tokenize(df).groupBy("word").agg(F.count(F.lit(1)).alias("c")).collect():
        got[r.word] = r.c
    expected = reference_wordcount(texts)
    # Spark's split(-1) keeps trailing empties that Scala String.split drops
    # — count them exactly per text
    def n_trailing(t: str) -> int:
        parts = t.split(" ")
        k = 0
        while parts and parts[-1] == "":
            parts.pop()
            k += 1
        return k

    trailing = sum(n_trailing(t) for t in texts)
    diff = got[""] - expected[""]
    assert diff == trailing, (got[""], expected[""], trailing)
    got[""] = expected[""]
    assert {k: v for k, v in got.items() if v} == {
        k: v for k, v in expected.items() if v
    }


def test_sum_over_union_equals_sum_of_sums(spark, sf_dir):
    """Partition-invariance of aggregation: splitting by any predicate and
    re-combining partial sums gives the global sum (exact in integers)."""
    li = load(spark, sf_dir, "lineitem")
    total = li.agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s")
    ).collect()[0]
    lo = li.where(F.col("l_quantity") <= 25)
    hi = li.where(F.col("l_quantity") > 25)
    parts = [
        d.agg(F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s")).collect()[0]
        for d in (lo, hi)
    ]
    assert total.n == sum(p.n for p in parts)
    assert total.s == sum(p.s for p in parts)


def test_topk_stable_under_repartition(spark, sf_dir):
    """sort_limit has a unique-key tiebreak, so any physical partitioning
    must give the identical top-k."""
    from toy_map_reduce_spark.registry import get_spec

    base = [tuple(r) for r in get_spec("sort_limit").builder(spark, sf_dir).collect()]
    orders = load(spark, sf_dir, "orders").repartition(7)
    shuffled = (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .limit(100)
    )
    assert [tuple(r) for r in shuffled.collect()] == base


def test_dedup_survivors_unique_and_complete(spark, sf_dir):
    """Exact dedup partitions the input: survivor hashes unique, dup_counts
    sum back to the corpus size."""
    from toy_map_reduce_spark.registry import get_spec

    out = get_spec("dedup_exact").builder(spark, sf_dir)
    n_docs = load(spark, sf_dir, "documents").count()
    rows = out.collect()
    assert len({r.text_hash for r in rows}) == len(rows)
    assert sum(r.dup_count for r in rows) == n_docs


@given(
    st.lists(
        st.integers(min_value=1, max_value=120),  # doc token counts
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None)
def test_chunking_covers_every_token_with_exact_overlap(spark, sizes):
    """Chunking invariants for any doc length: (1) chunk starts tile the
    doc at stride spacing so every token is covered; (2) each chunk holds
    min(CHUNK_TOKENS, remaining) tokens; (3) consecutive chunks overlap by
    exactly CHUNK_TOKENS - CHUNK_STRIDE tokens (when the next chunk is
    full-width)."""
    from toy_map_reduce_spark.operators.pipeline import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunk_overlap,
    )
    from toy_map_reduce_spark.registry import get_spec

    import math
    import os
    import tempfile

    docs = [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(sizes)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs, "doc_id long, text string"
        ).withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("t")
        ).withColumn("n_chars", F.length("text")).coalesce(1).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        rows = text_chunk_overlap(spark, d).collect()

    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(sizes):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert len(chunks) == math.ceil(n / CHUNK_STRIDE)
        for r in chunks:
            start = r.chunk_idx * CHUNK_STRIDE
            assert r.n_chunk_tokens == min(CHUNK_TOKENS, n - start)
            assert r.first_tok == f"w{start}"
            assert r.last_tok == f"w{min(start + CHUNK_TOKENS, n) - 1}"
        # coverage: last chunk's end reaches the final token
        last = chunks[-1]
        assert last.chunk_idx * CHUNK_STRIDE + last.n_chunk_tokens == n


@settings(max_examples=6, deadline=None)
@given(st.lists(st.floats(min_value=-1000, max_value=1000, allow_nan=False),
                min_size=1, max_size=40))
def test_ewma_fold_bounded_and_matches_python(spark, values):
    """The ordered-fold EWMA must equal an independent Python recurrence
    bit-for-bit (same fold order) and always lie within [min, max] of the
    series — the invariants of a convex recursive average."""
    from toy_map_reduce_spark.operators.timeseries import EWMA_ALPHA

    values = [round(v, 2) for v in values]
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = (
        df.agg(
            F.aggregate(
                F.slice(F.collect_list("v"), 2, 10**6),
                F.first("v"),
                lambda acc, x: EWMA_ALPHA * x + (1 - EWMA_ALPHA) * acc,
            ).alias("e")
        )
    )
    # collect_list order is nondeterministic across partitions; single
    # partition input (createDataFrame of a small list) preserves order
    e = got.collect()[0].e
    expected = values[0]
    for v in values[1:]:
        expected = EWMA_ALPHA * v + (1 - EWMA_ALPHA) * expected
    assert e == expected, (e, expected)
    assert min(values) - 1e-9 <= e <= max(values) + 1e-9


@settings(max_examples=6, deadline=None)
@given(st.lists(st.sampled_from(["ab", "abc", "a", "bcbc", "ccc", "abab"]),
                min_size=2, max_size=25))
def test_bpe_pairs_match_bruteforce(spark, words):
    """tokenize_bpe_pairs' weighted pair counts must equal a brute-force
    Python count over the same corpus."""
    from collections import Counter

    df = spark.createDataFrame([(" ".join(words),)], ["text"]).withColumn(
        "doc_id", F.lit(1)
    )
    docs = df.select("doc_id", "text")
    from toy_map_reduce_spark.functions.text import norm_text

    w = (
        docs.select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        w.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    got = {r.pair: r.n for r in pairs.collect()}
    expected = Counter()
    for word in words:
        if len(word) >= 2:
            for i in range(len(word) - 1):
                expected[word[i : i + 2]] += 1
    assert got == dict(expected), (got, dict(expected))


# --- blocking-scheme invariants (pure Python: the math the blocked joins
# rely on, pinned independently of Spark) ------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    st.text(alphabet="abcd", min_size=1, max_size=12),
    st.text(alphabet="abcd", min_size=1, max_size=12),
)
@settings(max_examples=300, deadline=None)
def test_fuzzy_length_blocking_is_lossless(a, b):
    # join_fuzzy_block invariant: if lev(a,b) <= FUZZY_MAX_DIST and the
    # first chars agree, the canonical side's exploded length buckets
    # must contain the mention's bucket — no true match is ever blocked
    # away by the length dimension.
    from toy_map_reduce_spark.operators.joins import FUZZY_LEN_BUCKET, FUZZY_MAX_DIST

    if a[0] != b[0] or _lev(a, b) > FUZZY_MAX_DIST:
        return
    canon_buckets = {
        max(len(b) - FUZZY_MAX_DIST, 0) // FUZZY_LEN_BUCKET,
        len(b) // FUZZY_LEN_BUCKET,
        (len(b) + FUZZY_MAX_DIST) // FUZZY_LEN_BUCKET,
    }
    assert len(a) // FUZZY_LEN_BUCKET in canon_buckets, (a, b, canon_buckets)


@given(
    st.floats(min_value=40.0, max_value=60.0),
    st.floats(min_value=-10.0, max_value=20.0),
    st.floats(min_value=-0.6, max_value=0.6),
    st.floats(min_value=-0.9, max_value=0.9),
)
@settings(max_examples=300, deadline=None)
def test_geo_grid_neighborhood_covers_radius(s_lat, s_lon, dlat, dlon):
    # join_geo_radius invariant: any point within GEO_RADIUS_KM of a
    # store falls in one of the store's 3x3 neighbor cells (1 degree of
    # latitude ~111 km >= radius; longitude degrees only shrink with
    # latitude, so +/-1 cell always suffices at these latitudes).
    import math

    from toy_map_reduce_spark.operators.joins import EARTH_R_KM, GEO_RADIUS_KM

    p_lat, p_lon = s_lat + dlat, s_lon + dlon
    d = (
        2
        * EARTH_R_KM
        * math.asin(
            math.sqrt(
                math.sin(math.radians(s_lat - p_lat) / 2) ** 2
                + math.cos(math.radians(p_lat))
                * math.cos(math.radians(s_lat))
                * math.sin(math.radians(s_lon - p_lon) / 2) ** 2
            )
        )
    )
    if d > GEO_RADIUS_KM:
        return
    cells = {
        (math.floor(s_lat) + di, math.floor(s_lon) + dj)
        for di in (-1, 0, 1)
        for dj in (-1, 0, 1)
    }
    assert (math.floor(p_lat), math.floor(p_lon)) in cells


def test_digest_queries_invariant_under_partitioning(spark, sf_dir):
    """Order-digest queries (epoch shuffle, shard manifest) must produce
    byte-identical output whatever the physical partitioning — the digests
    are only meaningful if shuffle arrival order can't leak into them. Run
    each with two very different shuffle-partition settings and compare."""
    from toy_map_reduce_spark.registry import get_spec

    for name in ("pipeline_epoch_shuffle", "pipeline_shard_manifest"):
        spec = get_spec(name)
        orig = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "1")
            one = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
            spark.conf.set("spark.sql.shuffle.partitions", "13")
            many = sorted(map(tuple, spec.builder(spark, sf_dir).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", orig)
        assert one == many, f"{name}: digest changed with partition count"


def test_bpe_fold_random_corpus_matches_reference(spark):
    """Stress the JVM merge fold on a seeded random corpus full of
    repeated-symbol runs (the overlap-handling edge): every word's encoded
    length after 6 trained merges must equal the Python reference's."""
    import random

    from toy_map_reduce_spark.operators.textstats import bpe_apply, bpe_train

    rng = random.Random(42)
    alphabet = "abc"
    corpus = {}
    for _ in range(60):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        corpus[w] = corpus.get(w, 0) + rng.randint(1, 9)

    words_df = spark.createDataFrame(list(corpus.items()), ["word", "freq"])
    merges = bpe_train(words_df, n_merges=6)

    def encode_len(word):
        syms = list(word)
        for _, a, b, _, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {r.word: r.n_sym for r in bpe_apply(words_df, merges).collect()}
    want = {w: encode_len(w) for w in corpus}
    assert got == want, {w: (got[w], want[w]) for w in corpus if got[w] != want[w]}


def test_package_ships_to_executors(spark):
    """get_spark must addPyFile the package zip (r12: the full-registry
    local-cluster sweep proved that without it, every deferred in-UDF
    ``from toy_map_reduce_spark...`` import dies with ModuleNotFoundError
    on a real executor process — local[N] can't see this because executor
    python workers inherit the driver's sys.path). Pins: (a) the zip is
    registered with the SparkContext, (b) it contains the package's entry
    modules, (c) a task that imports the package FROM the shipped file
    root succeeds — the local stand-in for the remote-worker import."""
    import zipfile

    from pyspark import SparkFiles

    sc = spark.sparkContext
    pyfiles = [p for p in sc._python_includes] if hasattr(sc, "_python_includes") else []
    zips = [p for p in pyfiles if p.startswith("pkg_") and p.endswith(".zip")]
    assert zips, f"package zip not shipped via addPyFile: includes={pyfiles}"
    shipped = SparkFiles.get(zips[0])
    with zipfile.ZipFile(shipped) as z:
        names = set(z.namelist())
    for mod in ("toy_map_reduce_spark/session.py",
                "toy_map_reduce_spark/functions/media.py",
                "toy_map_reduce_spark/registry.py"):
        assert mod in names, f"{mod} missing from shipped zip"

    def _import_from_shipped(_):
        # executor-side: the shipped zip is on sys.path via SparkFiles
        from toy_map_reduce_spark.functions import media  # noqa: F401

        return media.__name__

    got = sc.parallelize([0], 1).map(_import_from_shipped).collect()
    assert got == ["toy_map_reduce_spark.functions.media"]


def test_task_retry_recovers_from_transient_failure(spark):
    """The reference's one distinguishing runtime behavior is failure
    detection + task reassignment (reference
    MasterProcessorLiveImpl.scala:101-116: a worker that misses
    heartbeats has its tasks reset to Unassigned and rescheduled). The
    Spark-native equivalent is task retry: the session runs with
    maxFailures=2 (session.py master local[N, 2]), so a task that dies
    once is re-attempted and the query must still return exactly the
    right answer — zero engine code, which is the point (r5 verdict
    item 3)."""
    import pandas as pd
    from pyspark import TaskContext

    def flaky(batches):
        tc = TaskContext.get()
        if tc.attemptNumber() == 0 and tc.partitionId() == 0:
            raise RuntimeError("injected transient worker failure (attempt 0)")
        for pdf in batches:
            yield pd.DataFrame({"x": pdf["x"], "y": pdf["x"] * 2})

    df = (
        spark.range(100)
        .selectExpr("id AS x")
        .repartition(3)
        .mapInPandas(flaky, schema="x long, y long")
    )
    got = sorted((r.x, r.y) for r in df.collect())
    assert got == [(i, 2 * i) for i in range(100)]


def test_global_order_primitive_matches_naive_windows(spark):
    """functions/ranks.py must be BIT-identical to the single-task window
    plans it replaces: row_number, inclusive running sum, whole-group
    totals, and the uneven-remainder ntile bands — global and per-group,
    ascending and descending, across every remainder class of n % k."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.functions.ranks import ntile_from_rn, with_global_order

    rng = random.Random(41)
    rows = [
        (i, rng.randint(0, 40), rng.choice("pqr"), float(rng.randint(1, 9)))
        for i in range(997)  # prime => exercises n % k != 0 banding
    ]
    df = spark.createDataFrame(rows, "id long, v long, g string, w double").repartition(7)

    naive = df.select(
        "id",
        F.row_number().over(Window.orderBy("v", "id")).alias("rn"),
        F.sum("w")
        .over(Window.orderBy(F.col("v").desc(), "id").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cw_desc"),
        F.ntile(7).over(Window.orderBy("v", "id")).alias("band"),
        F.sum("w")
        .over(Window.partitionBy("g").orderBy("v", "id").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cw_grp"),
    )
    # the primitive ranks at the session's shuffle width, fixed when it
    # builds: pin 5 so the offsets genuinely stitch several pids together
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        mine = with_global_order(
            df, [F.col("v"), F.col("id")], rn_col="rn", n_col="n", totals={"tot": "w"}
        )
        mine = mine.withColumn("band", ntile_from_rn(F.col("rn"), F.col("n"), 7))
        mine = with_global_order(
            mine, [F.col("v").desc(), F.col("id")], cumsums={"cw_desc": "w"}
        )
        mine = with_global_order(
            mine, [F.col("v"), F.col("id")], part_cols=["g"], cumsums={"cw_grp": "w"}
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    j = naive.alias("a").join(mine.alias("b"), "id")
    assert j.count() == 997
    mismatch = j.where(
        (F.col("a.rn") != F.col("b.rn"))
        | (F.col("a.band") != F.col("b.band"))
        | (F.abs(F.col("a.cw_desc") - F.col("b.cw_desc")) > 1e-9)
        | (F.abs(F.col("a.cw_grp") - F.col("b.cw_grp")) > 1e-9)
    ).count()
    assert mismatch == 0
    tot = mine.select("tot").distinct().collect()
    assert len(tot) == 1 and abs(tot[0].tot - sum(r[3] for r in rows)) < 1e-6

    # degenerate inputs: a filter can hand the primitive 0 or 1 rows at
    # some scale factor — it must stay well-formed, not crash or drop
    empty = with_global_order(
        df.where(F.lit(False)), [F.col("v"), F.col("id")], rn_col="rn", n_col="n"
    )
    assert empty.count() == 0 and {"rn", "n"} <= set(empty.columns)
    one = with_global_order(
        df.limit(1), [F.col("v"), F.col("id")], rn_col="rn", n_col="n",
        cumsums={"cw": "w"},
    ).collect()
    assert len(one) == 1 and one[0].rn == 1 and one[0].n == 1

    # ntile_from_rn across remainder classes, vs the SQL ntile definition
    for n, k in ((1, 4), (3, 4), (4, 4), (6, 4), (10, 4), (11, 3), (997, 7)):
        sdf = spark.range(1, n + 1).select(
            F.col("id").alias("rn"),
            ntile_from_rn(F.col("id"), F.lit(n), k).alias("band"),
            F.ntile(k).over(Window.orderBy("id")).alias("want"),
        )
        assert sdf.where(F.col("band") != F.col("want")).count() == 0, (n, k)


def test_with_global_order_name_validation(spark):
    """r6 advisor: scratch-name collisions must be rejected at entry, not
    silently mis-wired."""
    import pytest
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.functions.ranks import with_global_order

    df = spark.createDataFrame([(1, 2.0)], "id long, w double")

    # input columns on reserved names
    bad_in = df.select(F.col("id"), F.col("w").alias("_pid"))
    with pytest.raises(ValueError, match="reserved scratch names"):
        with_global_order(bad_in, [F.col("id")], rn_col="rn")

    # cumsums/totals key overlap -> totals' src would silently win
    with pytest.raises(ValueError, match="BOTH cumsums and totals"):
        with_global_order(
            df, [F.col("id")], cumsums={"x": "w"}, totals={"x": "w"}
        )

    # output key 'n' manufactures _off_n/_tot_n, colliding with the
    # reserved count columns
    with pytest.raises(ValueError, match="reserved count columns"):
        with_global_order(df, [F.col("id")], cumsums={"n": "w"})

    # duplicate output names
    with pytest.raises(ValueError, match="duplicate output names"):
        with_global_order(df, [F.col("id")], rn_col="x", n_col="x")


def test_soundex_cross_engine_fuzz(spark):
    """Spark F.soundex(upper(norm)) == the DuckDB oracle SQL over an
    adversarial string set (r10 advisor: the claimed fuzz validation was
    never committed, and without the _SX_NORM pre-expansion it is FALSE
    for 'ß' — JVM upper('ß')='SS' codes the S, DuckDB upper('ß')='ẞ'
    treats it as a separator; 'straße' was S362 vs S360). The alphabet
    covers every soundex code class, H/W transparency, Y separators,
    non-letter-initial identity returns, and all 15 one-to-many
    uppercase expansions the pinned normalization handles. Out of scope
    by documented claim: Greek/Armenian special casings and
    post-Unicode-15 mappings where the engines' Unicode tables differ.
    Deterministic seed so CI failures reproduce."""
    import random

    import duckdb

    from toy_map_reduce_spark.operators.scalars2 import (
        _SX_NORM,
        soundex_oracle_query,
        sx_norm_spark,
    )

    rng = random.Random(0x50D0)
    alphabet = (
        list("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz")
        + list("0123456789 .,'-_!#")
        + list(_SX_NORM.keys())
        + ["é", "ü", "ñ", "ç", "ô"]  # 1:1 uppercase, agrees cross-engine
    )
    strings = [
        "", "straße", "ẞoft", "ﬁsher", "Pﬁster", "ŉdebele", "weiß",
        "Ashcraft", "Ashcroft", "Tymczak", "Pfister", "Honeyman",
        "Robert", "Rupert", "  lead", "123abc", "ßß", "ǰilt", "Oẘen",
    ] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14)))
        for _ in range(2600)
    ]
    rows = [(i, s) for i, s in enumerate(strings)]

    sdf = spark.createDataFrame(rows, "id long, s string").select(
        "id", F.soundex(F.upper(sx_norm_spark(F.col("s")))).alias("code")
    )
    got = {r["id"]: r["code"] for r in sdf.collect()}

    con = duckdb.connect()
    import pandas as pd

    con.register("fuzz_strings", pd.DataFrame(rows, columns=["id", "s"]))
    sql = soundex_oracle_query("SELECT id, s FROM fuzz_strings", "id", "s")
    want = {int(i): c for i, c in con.sql(sql).fetchall()}
    con.close()

    bad = {i: (got[i], want[i], strings[i]) for i in want if got[i] != want[i]}
    assert not bad, f"{len(bad)} soundex cross-engine mismatches: {dict(list(bad.items())[:10])}"
