"""Property-based tests (SURVEY §5.2(4)): algebraic laws on generated frames
and rewriter round-trip safety."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType, StructField, StructType

from ksql_spark.compat.rewriter import RewriteError, Rewriter
from ksql_spark.sources.k8s import SCHEMAS

RW = Rewriter({"t": StructType([StructField("x", StringType())])})
K8S_RW = Rewriter(SCHEMAS)

sql_text = st.text(
    alphabet=st.characters(
        whitelist_categories=("L", "N", "P", "S", "Z"), blacklist_characters=">"
    ),
    max_size=80,
)


@given(sql_text)
@settings(max_examples=200, deadline=None)
def test_rewriter_identity_without_arrow(sql):
    """Any text with no `->` token must round-trip unchanged."""
    assert "->" not in sql
    assert RW.rewrite(sql) == sql


def _field_names(dt) -> set[str]:
    if isinstance(dt, StructType):
        return {f.name for f in dt.fields}.union(
            *(_field_names(f.dataType) for f in dt.fields)
        )
    if isinstance(dt, (ArrayType, MapType)):
        return _field_names(dt.valueType if isinstance(dt, MapType) else dt.elementType)
    return set()


_K8S_KEYS = sorted(set().union(*map(_field_names, SCHEMAS.values())) | {"email", "nosuch"})


@st.composite
def k8s_arrow_statements(draw):
    """`select <base>-><segments> from v1 [join v2 …]` over the k8s views:
    the base is a column path of one view, bare or view-qualified, and the
    segments are keys, string keys and indexes that may or may not fit."""
    views = draw(st.lists(st.sampled_from(sorted(SCHEMAS)), min_size=1,
                          max_size=3, unique=True))
    owner = draw(st.sampled_from(sorted(SCHEMAS)))
    dt, base = SCHEMAS[owner], []
    while isinstance(dt, StructType) and (not base or draw(st.booleans())):
        field = draw(st.sampled_from(dt.fields))
        base.append(field.name)
        dt = field.dataType
    if draw(st.booleans()):
        base.insert(0, owner)
    segments = draw(st.lists(
        st.one_of(
            st.sampled_from(_K8S_KEYS),
            st.sampled_from(_K8S_KEYS).map(lambda k: f"('{k}')"),
            st.integers(0, 3).map(lambda i: f"({i})"),
        ),
        min_size=1, max_size=4,
    ))
    chain = "->".join([".".join(base), *segments])
    return f"select {chain} from " + " join ".join(views)


@given(k8s_arrow_statements())
@settings(max_examples=300, deadline=None)
def test_k8s_arrow_chain_rewrites_or_raises(sql):
    """A `->` chain rooted at a k8s view's column either rewrites completely
    or raises RewriteError: no `->` reaches Spark, which would parse it as a
    lambda."""
    try:
        out = K8S_RW.rewrite(sql)
    except RewriteError:
        return
    assert "->" not in out, (sql, out)


rows = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=0,
    max_size=25,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows, rows)
def test_union_all_count_additivity(spark_lazy, a, b):
    spark = spark_lazy
    schema = "v int, k int"
    da = spark.createDataFrame(a or [], schema=schema)
    db = spark.createDataFrame(b or [], schema=schema)
    assert da.unionAll(db).count() == len(a) + len(b)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows)
def test_filter_conjunction_split(spark_lazy, a):
    spark = spark_lazy
    df = spark.createDataFrame(a or [], schema="v int, k int")
    both = df.where((F.col("v") > 0) & (F.col("k") < 2)).count()
    chained = df.where(F.col("v") > 0).where(F.col("k") < 2).count()
    assert both == chained == sum(1 for v, k in a if v > 0 and k < 2)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows, rows)
def test_inner_join_commutative_count(spark_lazy, a, b):
    spark = spark_lazy
    da = spark.createDataFrame(a or [], schema="v int, k int").select("k").alias("a")
    db = spark.createDataFrame(b or [], schema="v int, k int").select(
        F.col("k").alias("k2")
    )
    ab = da.join(db, F.col("k") == F.col("k2")).count()
    ba = db.join(da, F.col("k") == F.col("k2")).count()
    assert ab == ba


# hypothesis can't use function-scoped pytest fixtures directly; expose the
# session fixture through a module-level accessor.
import pytest  # noqa: E402


@pytest.fixture(scope="module")
def _spark_holder(spark):
    global _SPARK
    _SPARK = spark
    return spark


@pytest.fixture
def spark_lazy(_spark_holder):
    return _SPARK


def test_bfs_depth6_no_plan_blowup(spark_lazy):
    """Frontier BFS at depth 6 completes quickly — localCheckpoint truncates
    per-level lineage, otherwise optimization time explodes past depth ~4."""
    import time

    from ksql_spark.queries.graph import bfs

    edges = [(i, i + 1) for i in range(8)] + [(i + 1, i) for i in range(8)]
    adj = spark_lazy.createDataFrame(edges, "s1 long, s2 long")
    t0 = time.monotonic()
    got = {r.suppkey: r.depth for r in bfs(spark_lazy, adj, 0, 6).collect()}
    assert time.monotonic() - t0 < 60
    assert got == {i: i for i in range(7)}  # node 7 is beyond depth 6


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(min_value=1, max_value=130))
def test_chunking_invariants(spark_lazy, n_words):
    """Sliding-window chunking laws for any doc length: chunk count matches
    the stride grid, each chunk's token count is its split length, and every
    chunk reproduces the original words at its stride offset (full coverage
    + 50% overlap fall out of these)."""
    import tempfile

    from ksql_spark.queries.text_pipeline import CHUNK, STRIDE
    from ksql_spark.registry import all_specs

    spark = spark_lazy
    words = [f"w{i}" for i in range(n_words)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(0, " ".join(words), "en", "s", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = sorted(
            all_specs()["llm_chunk_sliding"].builder(spark, d).collect(),
            key=lambda r: r.chunk_idx,
        )
    assert len(rows) == (max(n_words - 1, 0)) // STRIDE + 1
    for r in rows:
        got = r.chunk_text.split(" ")
        start = r.chunk_idx * STRIDE
        assert got == words[start : start + CHUNK]
        assert r.n_tokens == len(got)


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_netpbm_roundtrip_and_resize_laws(w, h, out_w, out_h, rng):
    """encode → decode is the identity on any (h, w, 3) byte array;
    nearest-neighbor resize to the SAME dims is also the identity, and
    every resized pixel exists at its floor-mapped source coordinate."""
    import numpy as np

    from ksql_spark.operators import multimodal

    img = np.array(
        [[[rng.randrange(256) for _ in range(3)] for _ in range(w)] for _ in range(h)],
        dtype="uint8",
    )
    back = multimodal.decode_netpbm(multimodal.encode_ppm(img))
    assert back.shape == (h, w, 3) and (back == img).all()
    assert (multimodal.resize_nearest(img, w, h) == img).all()
    r = multimodal.resize_nearest(img, out_w, out_h)
    assert r.shape == (out_h, out_w, 3)
    for yt in range(out_h):
        for xt in range(out_w):
            assert (r[yt, xt] == img[(yt * h) // out_h, (xt * w) // out_w]).all()


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.one_of(st.none(), st.integers(min_value=-500, max_value=500)),
        ),
        max_size=40,
    )
)
def test_bitmap_distinct_law(spark_lazy, pairs):
    """The bitmap popcount distinct must equal COUNT(DISTINCT) on ANY
    (group, id) multiset — INCLUDING negative ids (ADVICE r5: pmod +
    floor-div keep the packing a bijection over all of BIGINT; truncating
    `%` would touch the sign bit and collide -k with +k). NULL ids
    must be ignored exactly as COUNT(DISTINCT) ignores them (they produce
    NULL words whose NULL bits the popcount sum skips)."""
    from ksql_spark.operators.bitmaps import bitmap_words

    spark = spark_lazy
    df = spark.createDataFrame(pairs or [("a", 0)], schema="g string, id long")
    words = bitmap_words(df, "id", ["g"])
    got = {
        r["g"]: r["n"]
        for r in words.groupBy("g")
        .agg(F.coalesce(F.sum(F.bit_count("bits")), F.lit(0)).alias("n"))
        .collect()
    }
    want = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("id").alias("n")).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from(["w%d" % i for i in range(30)]), max_size=60),
    st.lists(st.sampled_from(["w%d" % i for i in range(30)]), max_size=60),
)
def test_cms_one_sided_and_merge_laws(spark_lazy, ws_a, ws_b):
    """On ANY generated token multiset: (1) every word's CMS estimate is
    >= its true count (one-sidedness); (2) shard sketches SUM-merge into
    the single-pass sketch exactly."""
    from ksql_spark.queries.llm import cms_sketch

    spark = spark_lazy
    all_ws = ws_a + ws_b
    if not all_ws:
        return
    toks = spark.createDataFrame([(w,) for w in all_ws], schema="w string")
    sk = {(r["j"], r["pos"]): r["cnt"] for r in cms_sketch(toks).collect()}
    # one-sidedness: min over the word's 4 counters >= exact count
    import hashlib
    from collections import Counter

    exact = Counter(all_ws)
    for w, n in exact.items():
        digest = hashlib.md5(w.encode()).hexdigest()
        est = min(
            sk[(j, int(digest[8 * j : 8 * j + 8], 16) % 512)] for j in range(4)
        )
        assert est >= n, (w, est, n)
    # merge law
    sa = cms_sketch(
        spark.createDataFrame([(w,) for w in ws_a] or [("x",)], schema="w string")
    )
    sb = cms_sketch(
        spark.createDataFrame([(w,) for w in ws_b] or [("x",)], schema="w string")
    )
    merged = {
        (r["j"], r["pos"]): r["cnt"]
        for r in sa.unionByName(sb)
        .groupBy("j", "pos")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    if ws_a and ws_b:
        assert merged == sk


@given(sql_text)
@settings(max_examples=200, deadline=None)
def test_compat_qualify_identity_without_keyword(sql):
    """compat_qualify must be the identity on any text not containing the
    QUALIFY keyword at the top level of a SELECT (the conservative-scope
    contract: it only ever rewrites what it fully understands)."""
    from ksql_spark.compat.rewriter import compat_qualify

    if "qualify" not in sql.lower():
        assert compat_qualify(sql) == sql


def test_histogram_quantile_error_bound_and_merge(spark_lazy):
    """D21 laws on real data: (1) every histogram quantile estimate is
    within ONE bin width of the exact nearest-rank percentile (the
    sketch's accuracy contract); (2) shard sketches built with the same
    bounds SUM-merge into the single-pass sketch exactly (what makes the
    state mergeable across shards/micro-batches)."""
    import numpy as np
    import pyarrow.parquet as pq

    from ksql_spark.queries.aggregates import (
        _HIST_BINS,
        agg_histogram_quantile,
        price_histogram,
    )
    from ksql_spark.tables import load

    sf = "/root/testdata/sf0.001"
    spark = spark_lazy
    vals = np.sort(
        pq.read_table(f"{sf}/lineitem.parquet", columns=["l_extendedprice"])
        .column(0)
        .to_numpy()
    )
    width = (vals[-1] - vals[0]) / _HIST_BINS
    n = len(vals)
    est = {r["quantile"]: r["estimate"]
           for r in agg_histogram_quantile(spark, sf).collect()}
    for label, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        exact = vals[int(np.ceil(q * n)) - 1]
        assert abs(est[label] - exact) <= width + 1e-6, (label, est[label], exact)

    li = load(spark, sf, "lineitem")
    b = li.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count("*").alias("n"),
        ((F.max("l_extendedprice") - F.min("l_extendedprice"))
         / float(_HIST_BINS)).alias("width"),
    )
    full = {r["bin"]: r["cnt"] for r in price_histogram(li, b).collect()}
    sa = price_histogram(li.where(F.col("l_orderkey") % 2 == 0), b)
    sb = price_histogram(li.where(F.col("l_orderkey") % 2 == 1), b)
    merged = {
        r["bin"]: r["cnt"]
        for r in sa.unionByName(sb)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == full


def test_kcore_fixpoint_reached(spark_lazy):
    """L8: the 4 unrolled peeling rounds actually CONVERGE at test scale —
    a fifth round removes nothing (so the unroll count is a converged
    fixpoint, not a truncation), and every core node's degree >= k."""
    from ksql_spark.queries.graph import (
        _KCORE_K,
        _KCORE_ROUNDS,
        _weighted_adj,
        kcore_round,
    )
    from ksql_spark.tables import load

    spark = spark_lazy
    li = load(spark, "/root/testdata/sf0.01", "lineitem")
    adj = _weighted_adj(li).localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        adj = kcore_round(adj, _KCORE_K).localCheckpoint()
    extra = kcore_round(adj, _KCORE_K)
    assert extra.count() == adj.count() > 0
    degs = [r["d"] for r in
            adj.groupBy("s1").agg(F.count("*").alias("d")).collect()]
    assert min(degs) >= _KCORE_K


def test_zorder_bucket_bounds_both_dimensions(spark):
    """F7's skipping guarantee: a 12-bit z-bucket fixes the top 6 bits of
    EACH dimension, so min/max span per bucket < 64 quantization steps in
    both dims — the zone-map property that makes either-predicate scans
    skip ~63/64 of the data."""
    from ksql_spark.registry import all_specs

    rows = (
        all_specs()["sort_zorder_locality"]
        .builder(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert len(rows) > 100  # orders spread across many z-buckets
    for r in rows:
        assert 0 <= r["day_span"] < 64, dict(r.asDict())
        assert 0 <= r["cust_span"] < 64, dict(r.asDict())


def test_pit_join_match_is_unique(spark):
    """C17: validity intervals partition time per user, so every purchase
    matches AT MOST one state row — row count out == purchase count in,
    no fan-out (the property that makes PIT joins leakage-safe)."""
    from pyspark.sql import functions as F

    from ksql_spark.registry import all_specs

    sf = "/root/testdata/sf0.01"
    out = all_specs()["join_pit_state"].builder(spark, sf)
    n_out = out.count()
    n_buys = (
        spark.read.parquet(f"{sf}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert n_out == n_buys
    # and no future leakage: every matched state started at-or-before buy
    assert out.where(F.col("state_age_us") < 0).count() == 0


def test_ranged_lag_equals_global_lag(spark):
    """The ranged_lag primitive matches a literal single-partition global
    lag on the same data (property law for the boundary stitch, incl.
    partitions whose first rows need a predecessor from further back)."""
    from pyspark.sql import Window, functions as F

    from ksql_spark.operators.scale import ranged_lag

    df = spark.range(0, 5000).select(
        (F.col("id") * 7 % 4999).alias("k")
    ).distinct()
    got = {
        r["k"]: r["prev"]
        for r in ranged_lag(df, ["k"], "k", out_col="prev", n_parts=7)
        .collect()
    }
    want = {
        r["k"]: r["prev"]
        for r in df.select(
            "k", F.lag("k").over(Window.orderBy("k")).alias("prev")
        ).collect()
    }
    assert got == want


def test_ranged_lag_propagates_null_values(spark):
    """LAG semantics with NULLs in value_col (ADVICE r6): a row whose true
    predecessor holds NULL must get NULL — both mid-partition and across a
    partition boundary (the boundary stitch is gated on row position, and a
    NULL partition-last value is carried, never skipped for an older one)."""
    from pyspark.sql import Window, functions as F

    from ksql_spark.operators.scale import ranged_lag

    # ord is a total order; val is NULL on every 3rd row (so some range
    # partitions END in a NULL — the hazard case).
    df = spark.range(0, 2000).select(
        F.col("id").alias("ord"),
        F.when(F.col("id") % 3 != 0, F.col("id") * 10).alias("val"),
    )
    got = {
        r["ord"]: r["prev"]
        for r in ranged_lag(df, ["ord"], "val", out_col="prev", n_parts=9)
        .collect()
    }
    want = {
        r["ord"]: r["prev"]
        for r in df.select(
            "ord", F.lag("val").over(Window.orderBy("ord")).alias("prev")
        ).collect()
    }
    assert got == want


def test_pin_reliable_checkpoint_mode(spark, tmp_path):
    """The pin() seam (scale-primitive + graph-iteration lineage pins) must
    switch to RELIABLE checkpoints when the conf + checkpoint dir are set —
    the 100 TB cluster posture — and produce identical results."""
    import os

    from pyspark.sql import Window, functions as F

    from ksql_spark.operators.scale import RELIABLE_PIN_CONF, ranged_cumsum
    from ksql_spark.queries.graph import connected_components

    df = spark.range(0, 3000).select(
        (F.col("id") * 13 % 2999).alias("k"), F.lit(1).alias("v")
    ).distinct()
    want_cs = {
        r["k"]: r["cs"]
        for r in df.select(
            "k",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cs"),
        ).collect()
    }
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)], "s1 long, s2 long"
    )
    want_cc = {
        r["suppkey"]: r["component"] for r in connected_components(edges).collect()
    }

    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(RELIABLE_PIN_CONF, "true")
    try:
        got_cs = {
            r["k"]: r["cumsum"]
            for r in ranged_cumsum(df, ["k"], "v", n_parts=5).collect()
        }
        got_cc = {
            r["suppkey"]: r["component"]
            for r in connected_components(edges).collect()
        }
    finally:
        spark.conf.set(RELIABLE_PIN_CONF, "false")
    assert got_cs == want_cs
    assert got_cc == want_cc
    # evidence the reliable path actually ran: checkpoint files on disk
    found = any(files for _, _, files in os.walk(ckdir))
    assert found, "no reliable checkpoint files written"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4095),
            st.integers(min_value=0, max_value=4095),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_morton_interleave_bijective_and_monotone(spark_lazy, pairs):
    """Z-order bit math law (layout.write_zordered + sort_zorder_locality):
    the interleave is a bijection on 12-bit pairs (deinterleave recovers
    both dims exactly), so a z-sorted layout can never collapse two
    distinct (x, y) cells — the skipping guarantee's foundation."""
    from pyspark.sql import functions as F

    from ksql_spark.operators.layout import _interleave

    df = _SPARK.createDataFrame(pairs, "x long, y long").withColumn(
        "z", F.expr(_interleave("x", "y", 12))
    )
    rows = df.collect()

    def deinterleave(z):
        x = y = 0
        for k in range(12):
            x |= ((z >> (2 * k)) & 1) << k
            y |= ((z >> (2 * k + 1)) & 1) << k
        return x, y

    for r in rows:
        assert deinterleave(r["z"]) == (r["x"], r["y"])
    # distinct pairs -> distinct z (bijectivity on the quantized grid)
    assert len({r["z"] for r in rows}) == len(rows)


@given(
    st.lists(
        st.floats(
            min_value=-9e5, max_value=9e5,
            allow_nan=False, allow_infinity=False, width=64,
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dsum_cross_engine_bitwise(spark_lazy, xs):
    """The determinism helper's core claim, property-tested: Spark's dsum
    (scaled-long trunc-half-up accumulation) equals DuckDB's sql_dsum
    spelling BITWISE on arbitrary doubles — including negatives, where the
    trunc-toward-zero/round-half-up interplay is the cross-engine hazard."""
    import duckdb

    from ksql_spark.registry import dsum, sql_dsum

    df = _SPARK.createDataFrame([(x,) for x in xs], "v double")
    got = df.agg(dsum("v").alias("s")).collect()[0]["s"]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    want = con.execute(f"SELECT {sql_dsum('v')} FROM t").fetchone()[0]
    con.close()

    import struct

    assert struct.pack("<d", got) == struct.pack("<d", want), (got, want, xs)


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_knuth_draw_cross_engine_exact(spark_lazy, ids):
    """The deterministic-sampling family's shared primitive, property-tested
    on arbitrary BIGINTs (negative, zero, huge): the mod-2^31-guarded Knuth
    draw ((id % 2^31) * 2654435761) % 2^32 is integer-exact and identical in
    Spark and DuckDB — the law behind llm_sample_weighted/stratified,
    llm_shard_assign, write_sharded, and the IVF/PQ reservoirs."""
    import duckdb

    from pyspark.sql import functions as F

    df = _SPARK.createDataFrame([(i,) for i in ids], "id long")
    h = ((F.col("id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)
    got = {r["id"]: r["h"] for r in df.select("id", h.alias("h")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    want = dict(
        con.execute(
            "SELECT id, ((id % 2147483648) * 2654435761) % 4294967296 FROM t"
        ).fetchall()
    )
    con.close()
    assert got == want


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                max_codepoint=0x10FFF,
            ),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_portable_md5_word_hash_cross_engine(spark_lazy, words):
    """The portable dedup family's per-word hash (first 8 md5 hex chars as a
    32-bit int — minhash/simhash portable paths), property-tested on
    arbitrary unicode incl. empty strings: Spark's
    conv(substring(md5(cast(w AS BINARY)),1,8),16,10) must equal DuckDB's
    ('0x' || substring(md5(w),1,8))::BIGINT — i.e. both engines hash the
    identical UTF-8 bytes."""
    import duckdb

    from pyspark.sql import functions as F

    df = _SPARK.createDataFrame([(w,) for w in words], "w string")
    h = F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    got = {r["w"]: r["h"] for r in df.select("w", h.alias("h")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (w VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(w,) for w in words])
    want = dict(
        con.execute(
            "SELECT w, ('0x' || substring(md5(w), 1, 8))::BIGINT FROM t"
        ).fetchall()
    )
    con.close()
    assert got == want


@given(
    st.lists(
        st.floats(
            min_value=-100.0, max_value=100.0,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=0,
        max_size=16,
    ),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_vector_dot_cross_engine_bitwise(spark_lazy, vals):
    """operators.vectors.dot / l2_norm vs the DuckDB _DOT/_NORM oracle
    spellings, bitwise, on arbitrary float vectors INCLUDING empty vectors
    and signed zeros — the hazards that motivated seeding the DuckDB fold
    (bare list_reduce errors on [] and yields -0.0 where Spark's
    0.0-seeded aggregate yields +0.0)."""
    import struct

    import duckdb

    from pyspark.sql import functions as F

    from ksql_spark.operators import vectors
    from ksql_spark.queries.llm import _dot_sql, _norm_sql

    a = vals
    b = [(-1.0) ** i * v for i, v in enumerate(vals)]  # sign-mixed partner
    df = _SPARK.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        vectors.dot("a", "b").alias("d"), vectors.l2_norm("a").alias("n")
    ).collect()[0]

    con = duckdb.connect()
    want_d, want_n = con.execute(
        f"SELECT {_dot_sql('a', 'b')}, {_norm_sql('a')} "
        "FROM (SELECT ?::DOUBLE[] a, ?::DOUBLE[] b)",
        [a, b],
    ).fetchone()
    con.close()

    bits = lambda v: struct.pack("<d", v)
    assert bits(row["d"]) == bits(want_d), (row["d"], want_d, a, b)
    assert bits(row["n"]) == bits(want_n), (row["n"], want_n, a)


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs", "Zs", "Cc"),  # no spaces/controls
                max_codepoint=0x2FFF,
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tokenizer_matches_oracle_on_contract_domain(spark_lazy, tokens):
    """operators.text.words vs the oracles' string_split(text, ' ') — the
    documented equivalence domain is single-space-separated non-empty
    tokens (the driver corpus shape); pinned here over arbitrary unicode
    tokens. Outside the domain (whitespace runs) words() is the STRONGER
    contract: it must still produce no empty tokens."""
    import duckdb

    from ksql_spark.operators.text import words

    text = " ".join(tokens)
    df = _SPARK.createDataFrame([(text,)], "t string")
    got = df.select(words("t").alias("w")).collect()[0]["w"]

    con = duckdb.connect()
    want = con.execute(
        "SELECT string_split(?, ' ')", [text]
    ).fetchone()[0]
    con.close()
    assert got == want, (got, want, text)

    messy = "  ".join(tokens) + " \t\n " + tokens[0]
    messy_tokens = _SPARK.createDataFrame([(messy,)], "t string").select(
        words("t").alias("w")
    ).collect()[0]["w"]
    assert "" not in messy_tokens
    assert messy_tokens == tokens + [tokens[0]]


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x10FFF),
        min_size=0,
        max_size=64,
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sha256_digest_cross_engine(spark_lazy, text):
    """llm_dedup_exact's digest law on arbitrary unicode: Spark sha2(w, 256)
    equals DuckDB sha256(w) — both hash the identical UTF-8 encoding, so
    the exact-dedup shuffle key is engine-portable byte-for-byte."""
    import duckdb

    from pyspark.sql import functions as F

    df = _SPARK.createDataFrame([(text,)], "t string")
    got = df.select(F.sha2(F.col("t"), 256).alias("h")).collect()[0]["h"]
    con = duckdb.connect()
    want = con.execute("SELECT sha256(?)", [text]).fetchone()[0]
    con.close()
    assert got == want, (text, got, want)


@given(st.integers(min_value=2, max_value=5), st.integers(min_value=0, max_value=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ranged_cumsum_cummax_null_heavy(spark_lazy, n_parts, null_mod):
    """ranged_cumsum / ranged_cummax_excl vs literal global windows on
    NULL-heavy data (every null_mod-th value NULL; null_mod=0 → no NULLs),
    across partition widths — the same boundary-stitch law family that
    caught the ranged_lag NULL bug (ADVICE r6)."""
    from pyspark.sql import Window, functions as F

    from ksql_spark.operators.scale import ranged_cummax_excl, ranged_cumsum

    df = _SPARK.range(0, 600).select(
        F.col("id").alias("k"),
        F.when(
            F.lit(null_mod) == 0, (F.col("id") * 7) % 101
        ).otherwise(
            F.when(F.col("id") % null_mod != 0, (F.col("id") * 7) % 101)
        ).alias("v"),
    )
    got_cs = {
        r["k"]: r["cs"]
        for r in ranged_cumsum(df, ["k"], "v", out_col="cs", n_parts=n_parts)
        .collect()
    }
    want_cs = {
        r["k"]: r["cs"]
        for r in df.select(
            "k",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cs"),
        ).collect()
    }
    assert got_cs == want_cs

    got_cm = {
        r["k"]: r["cm"]
        for r in ranged_cummax_excl(df, ["k"], "v", out_col="cm", n_parts=n_parts)
        .collect()
    }
    want_cm = {
        r["k"]: r["cm"]
        for r in df.select(
            "k",
            F.max("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
            ).alias("cm"),
        ).collect()
    }
    assert got_cm == want_cm


@given(st.integers(min_value=2, max_value=5), st.integers(min_value=0, max_value=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ranged_cumsum_cummax_double_typed(spark_lazy, n_parts, null_mod):
    """Same boundary-stitch laws on a DOUBLE value column (ADVICE r7 medium:
    the double offsets path crashed at createDataFrame because the running
    offset started as Python int 0, and cummax's offset schema hardcoded
    LONG). Values are dyadic rationals (multiples of 0.25, magnitude < 26)
    so every partial sum is exactly representable in binary64 — the
    exact-equality law stays valid regardless of summation order."""
    from pyspark.sql import Window, functions as F

    from ksql_spark.operators.scale import ranged_cummax_excl, ranged_cumsum

    df = _SPARK.range(0, 600).select(
        F.col("id").alias("k"),
        F.when(
            F.lit(null_mod) == 0, ((F.col("id") * 7) % 101) / F.lit(4.0)
        ).otherwise(
            F.when(F.col("id") % null_mod != 0, ((F.col("id") * 7) % 101) / F.lit(4.0))
        ).alias("v"),
    )
    assert df.schema["v"].dataType.simpleString() == "double"
    got_cs = {
        r["k"]: r["cs"]
        for r in ranged_cumsum(df, ["k"], "v", out_col="cs", n_parts=n_parts)
        .collect()
    }
    want_cs = {
        r["k"]: r["cs"]
        for r in df.select(
            "k",
            F.sum("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cs"),
        ).collect()
    }
    assert got_cs == want_cs

    got_cm = {
        r["k"]: r["cm"]
        for r in ranged_cummax_excl(df, ["k"], "v", out_col="cm", n_parts=n_parts)
        .collect()
    }
    want_cm = {
        r["k"]: r["cm"]
        for r in df.select(
            "k",
            F.max("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
            ).alias("cm"),
        ).collect()
    }
    assert got_cm == want_cm


def test_capped_wedge_entries_agree_on_low_degree_nodes(spark_lazy):
    """The L9/L11 production siblings' exactness transfer laws:

    * clustering_coefficient_capped: for every node with degree <= cap the
      truncated neighbor list IS the whole neighborhood, so n_sampled ==
      degree and the estimate equals the exact L11 coefficient bit-for-bit;
    * adamic_adar_capped: sampled wedges ⊆ real wedges, so each candidate
      pair's sampled common-neighbor count and quantized score are <= the
      exact pair's (no invented links), and with cap >= max degree the two
      entries return the identical top-k ranking.
    """
    from ksql_spark.queries.graph import _WEDGE_CAP, _sampled_adj, _weighted_adj
    from ksql_spark.registry import all_specs
    from ksql_spark.tables import load

    spark = spark_lazy
    sf = "/root/testdata/sf0.01"
    specs = all_specs()
    exact = {
        r.suppkey: r
        for r in specs["graph_clustering_coefficient"].builder(spark, sf).collect()
    }
    capped = {
        r.suppkey: r
        for r in specs["graph_clustering_coefficient_capped"].builder(spark, sf).collect()
    }
    assert set(exact) == set(capped)
    low = [k for k, r in exact.items() if r.degree <= _WEDGE_CAP]
    assert low, "fixture must contain nodes under the cap"
    assert any(r.degree > _WEDGE_CAP for r in exact.values()), (
        "fixture must contain hubs so the estimator path is exercised"
    )
    for k in low:
        assert capped[k].n_sampled == exact[k].degree
        assert capped[k].clustering_coeff_est == exact[k].clustering_coeff, k

    # AA: sampled scores never exceed exact pair scores (compute the exact
    # full non-top-k pair scores brute-force at fixture scale)
    li = load(spark, sf, "lineitem")
    adj = _weighted_adj(li).localCheckpoint()
    deg = adj.groupBy(F.col("s1").alias("z")).agg(F.count("*").alias("d"))
    e1 = adj.select(F.col("s2").alias("a"), F.col("s1").alias("z"))
    e2 = adj.select(F.col("s1").alias("z"), F.col("s2").alias("b"))
    wedge = e1.join(e2, "z").where(F.col("a") < F.col("b"))
    nonedge = wedge.join(
        adj, (adj["s1"] == wedge["a"]) & (adj["s2"] == wedge["b"]), "left_anti"
    )
    contrib = ((1.0 / F.log(F.col("d").cast("double"))) * 1000000 + 0.5).cast("bigint")
    exact_pairs = {
        (r.a, r.b): (r.cn, r.q)
        for r in nonedge.join(F.broadcast(deg), "z")
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"), F.sum(contrib).alias("q"))
        .collect()
    }
    for r in specs["graph_adamic_adar_capped"].builder(spark, sf).collect():
        cn, q = exact_pairs[(r.suppkey_a, r.suppkey_b)]
        assert r.common_neighbors <= cn
        assert round(r.adamic_adar * 1e6) <= q

    # with the cap lifted above max degree, truncation is the identity
    samp = _sampled_adj(adj, cap=10**9)
    assert samp.count() == adj.count()
    assert samp.exceptAll(adj).count() == 0


def test_two_hop_reach_hll_within_tolerance(spark_lazy):
    """L14 production sibling (HyperBall): every node's HLL estimate must
    land within ±5% of the exact two-hop reach (Datasketches default lgK=12
    has RSE ~0.8%; 5% is the agg_hll_mergeable gate), over the identical
    thresholded adjacency."""
    from ksql_spark.registry import all_specs

    spark = spark_lazy
    sf = "/root/testdata/sf0.01"
    specs = all_specs()
    exact = {
        r.suppkey: r.reach_2hop
        for r in specs["graph_two_hop_reach"].builder(spark, sf).collect()
    }
    est = {
        r.suppkey: r.reach_2hop_est
        for r in specs["graph_two_hop_reach_hll"].builder(spark, sf).collect()
    }
    assert set(exact) == set(est)
    for k, ex in exact.items():
        assert abs(est[k] - ex) <= max(1, 0.05 * ex), (k, est[k], ex)
