"""Model-based property tests (hypothesis) for the upsert/history
operators — the algebraic laws a table-maintenance layer must hold,
checked against tiny in-Python models on generated inputs.

Kept to few examples per property: each example runs real Spark jobs;
the value is the generated edge cases (empty batches, all-matched,
all-new, single-key runs), not volume.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window

from tfl_bikes_data_pipeline_spark.operators.merge import merge_upsert
from tfl_bikes_data_pipeline_spark.operators.scd import scd2_collapse

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=6)
vals = st.integers(min_value=-5, max_value=5)


def _rows(spark, pairs):
    return spark.createDataFrame(
        [(k, float(v)) for k, v in pairs], "k INT, v DOUBLE"
    )


@given(
    base=st.dictionaries(keys, vals, max_size=6),
    upd=st.dictionaries(keys, vals, max_size=6),
)
@settings(**SETTINGS)
def test_merge_upsert_matches_dict_model(spark, base, upd):
    merged = merge_upsert(
        _rows(spark, base.items()), _rows(spark, upd.items()), ["k"]
    )
    got = {r["k"]: r["v"] for r in merged.collect()}
    want = {**{k: float(v) for k, v in base.items()},
            **{k: float(v) for k, v in upd.items()}}
    assert got == want


@given(
    base=st.dictionaries(keys, vals, max_size=5),
    u1=st.dictionaries(keys, vals, max_size=5),
    u2=st.dictionaries(keys, vals, max_size=5),
)
@settings(**SETTINGS)
def test_merge_upsert_sequential_batches_compose(spark, base, u1, u2):
    b = _rows(spark, base.items())
    step = merge_upsert(merge_upsert(b, _rows(spark, u1.items()), ["k"]),
                        _rows(spark, u2.items()), ["k"])
    got = {r["k"]: r["v"] for r in step.collect()}
    want = {**{k: float(v) for k, v in base.items()},
            **{k: float(v) for k, v in u1.items()},
            **{k: float(v) for k, v in u2.items()}}
    assert got == want


def _scd2_model(events):
    """events: list of (key, ts, attr) — returns the collapsed history
    {(key, run_index): (attr, valid_from, valid_to, n)}."""
    out = {}
    by_key = {}
    for k, ts, a in sorted(events, key=lambda e: (e[0], e[1])):
        by_key.setdefault(k, []).append((ts, a))
    for k, seq in by_key.items():
        runs = []
        for ts, a in seq:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, ts, 1])
        for i, (a, vf, n) in enumerate(runs):
            vt = runs[i + 1][1] if i + 1 < len(runs) else None
            out[(k, i)] = (a, vf, vt, n)
    return out


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=50),  # ts
            st.sampled_from(["a", "b", "c"]),        # attr
        ),
        max_size=20,
        unique_by=lambda e: (e[0], e[1]),  # unique (key, ts): total order
    )
)
@settings(**SETTINGS)
def test_scd2_collapse_matches_run_model(spark, events):
    df = spark.createDataFrame(
        events or [(0, 0, "a")], "k INT, ts INT, attr STRING"
    )
    if not events:
        events = [(0, 0, "a")]
    got = scd2_collapse(df, "k", "attr", ["ts"]).collect()
    model = _scd2_model(events)
    assert len(got) == len(model)
    got_rows = {
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["n_events"])
        for r in got
    }
    want_rows = {
        (k, a, vf, vt, n) for (k, _i), (a, vf, vt, n) in model.items()
    }
    assert got_rows == want_rows


def test_exact_sums_partition_independent(spark, sf_dir):
    """The determinism claim behind every oracle: exact-decimal
    aggregates must be bit-identical under different shuffle layouts
    (3 partitions vs the session default 8 stands in for local[32]
    vs a 1000-executor cluster)."""
    from tfl_bikes_data_pipeline_spark.plans.queries import q_pricing_summary

    def run():
        return [tuple(r) for r in q_pricing_summary(spark, sf_dir).collect()]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        baseline = run()
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert run() == baseline
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ---------------------------------------------------------------------------
# sessionization / EWMA model checks
# ---------------------------------------------------------------------------

from datetime import datetime, timedelta

from tfl_bikes_data_pipeline_spark.operators.timeseries import (
    EWMA_ALPHA,
    SESSION_GAP_S,
    ewma_last,
    sessionize,
)

gaps = st.lists(
    st.integers(min_value=0, max_value=2 * SESSION_GAP_S), min_size=1, max_size=12
)


def _event_rows(spark, user_gaps):
    rows, eid = [], 0
    for uid, gs in user_gaps.items():
        t = datetime(2024, 1, 1)
        for g in gs:
            t = t + timedelta(seconds=g)
            rows.append((eid, t, uid, "click", float(eid % 7)))
            eid += 1
    return spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    )


@given(user_gaps=st.dictionaries(st.integers(0, 3), gaps, min_size=1, max_size=4))
@settings(**SETTINGS)
def test_sessionize_matches_gap_model(spark, user_gaps):
    """Sessions must partition each user's events exactly, with one new
    session per gap > SESSION_GAP_S — checked against a direct Python
    fold over the generated gap sequences."""
    out = sessionize(_event_rows(spark, user_gaps)).collect()
    got = {
        (r["user_id"], r["session_id"]): r["n_events"] for r in out
    }
    want: dict = {}
    for uid, gs in user_gaps.items():
        sess = 0
        for i, g in enumerate(gs):
            if i == 0 or g > SESSION_GAP_S:
                sess += 1
            want[(uid, sess)] = want.get((uid, sess), 0) + 1
    assert got == want
    # durations are consistent: per-user total session span never
    # exceeds the user's full time range
    for r in out:
        assert r["duration_s"] >= 0


@given(
    series=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=1, max_size=10
    )
)
@settings(**SETTINGS)
def test_ewma_matches_fold_model(spark, series):
    """The array-fold EWMA must equal the direct sequential recurrence
    (and therefore lie within the series' min/max envelope)."""
    rows = [
        (i, datetime(2024, 1, 1) + timedelta(seconds=i), 0, "click", v)
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    )
    got = ewma_last(df).collect()[0]
    acc = series[0]
    for x in series[1:]:
        acc = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * acc
    assert got["n"] == len(series)
    # the operator rounds HALF_UP to 6 dp (Spark F.round); Python's
    # round() is banker's — compare against the unrounded model within
    # the rounding grid, and widen the envelope by the same grid.
    assert abs(got["ewma"] - acc) <= 5.1e-7
    assert min(series) - 5.1e-7 <= got["ewma"] <= max(series) + 5.1e-7


# ---------------------------------------------------------------------------
# codec fuzz: arbitrary arrays must round-trip bit-exactly
# ---------------------------------------------------------------------------

import numpy as np

from tfl_bikes_data_pipeline_spark.operators.imaging import (
    decode_gif,
    decode_png,
    decode_wav,
    encode_gif,
    encode_png,
    encode_wav,
)
from tfl_bikes_data_pipeline_spark.sources.netcdf3 import (
    parse_netcdf3,
    write_netcdf3,
)

dims_small = st.integers(min_value=1, max_value=17)


@given(h=dims_small, w=dims_small, c=st.sampled_from([1, 3, 4]),
       seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_png_roundtrip_fuzz(h, w, c, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    out = decode_png(encode_png(px))
    assert out.shape == (h, w, c)
    assert (out == px).all()


@given(h=dims_small, w=dims_small, npal=st.integers(2, 17),
       seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_gif_roundtrip_fuzz(h, w, npal, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
    idx = rng.integers(0, npal, size=(h, w)).astype(np.int32)
    out = decode_gif(encode_gif(idx, pal))
    assert (out == pal[idx]).all()


@given(n=st.integers(1, 300), rate=st.sampled_from([8000, 16000, 44100]),
       seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_wav_roundtrip_fuzz(n, rate, seed):
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, size=n, dtype=np.int16)
    arr, r = decode_wav(encode_wav(s, rate))
    assert r == rate and (arr[:, 0] == s).all()


@given(
    shape=st.tuples(dims_small, dims_small, dims_small),
    dtype=st.sampled_from(["int8", "int16", "int32", "float32", "float64"]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(**SETTINGS)
def test_netcdf3_roundtrip_fuzz(tmp_path_factory, shape, dtype, seed):
    rng = np.random.default_rng(seed)
    if dtype.startswith("float"):
        arr = rng.standard_normal(shape).astype(dtype)
    else:
        info = np.iinfo(dtype)
        arr = rng.integers(info.min, info.max, size=shape, dtype=dtype)
    p = str(tmp_path_factory.mktemp("nc") / "f.nc")
    write_netcdf3(
        p,
        {"a": shape[0], "b": shape[1], "c": shape[2]},
        {"v": (("a", "b", "c"), arr)},
    )
    back = parse_netcdf3(p)["v"][1]
    assert back.shape == arr.shape
    assert (back == arr).all() or (
        dtype.startswith("float") and np.array_equal(back, arr, equal_nan=True)
    )


from tfl_bikes_data_pipeline_spark.operators.jpeg import decode_jpeg, encode_jpeg


@given(h=st.integers(8, 40), w=st.integers(8, 40), rgb=st.booleans(),
       sub=st.booleans(), seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_jpeg_roundtrip_fuzz(h, w, rgb, sub, seed):
    """Arbitrary smooth images survive encode+decode within JPEG's
    quantization error (smoothed noise: hard random noise would test
    content ringing, not the codec)."""
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    rough = rng.integers(0, 256, size=shape).astype(np.float64)
    # separable 5-tap box smooth clamps high frequencies
    k = np.ones(5) / 5
    sm = rough
    sm = np.apply_along_axis(lambda r: np.convolve(r, k, mode="same"), 0, sm)
    sm = np.apply_along_axis(lambda r: np.convolve(r, k, mode="same"), 1, sm)
    img = sm.clip(0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, subsample=sub and rgb))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 15, f"mean error {err.mean():.1f} beyond JPEG bound"


def test_scd2_collapse_treats_null_as_a_state(spark):
    """Review r5: plain != propagated NULL, silently merging a NULL
    attr row into the preceding run and starting a spurious run after
    it. NULL must be a real state value with its own runs, and runs of
    NULL must collapse deterministically."""
    from tfl_bikes_data_pipeline_spark.operators.scd import scd2_collapse

    rows = [
        (1, "2024-01-01 10:00:00", 1, "a"),
        (2, "2024-01-01 10:10:00", 1, None),
        (3, "2024-01-01 10:20:00", 1, "a"),
        (4, "2024-01-01 10:30:00", 1, "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type")
    out = scd2_collapse(df, "user_id", "event_type", ["ts", "event_id"]).collect()
    states = [(r.event_type, r.n_events) for r in sorted(out, key=lambda r: r.valid_from)]
    assert states == [("a", 1), (None, 1), ("a", 2)], states


# ---------------------------------------------------------------------------
# repeated-substring span profile — coverage laws on generated corpora
# ---------------------------------------------------------------------------

_words = st.lists(
    st.sampled_from([f"w{i}" for i in range(12)]), min_size=0, max_size=30
)


@given(corpus=st.lists(_words, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_span_profile_coverage_laws(spark, corpus):
    """Structural laws that hold for ANY corpus: coverage never exceeds
    the doc, every span is at least gram-length tokens (so n_spans ≤
    dup_tokens / L), and zero coverage means zero spans."""
    from tfl_bikes_data_pipeline_spark.operators.dedup import (
        SPAN_GRAM,
        duplicated_span_profile,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        ["doc_id", "text"],
    )
    for r in duplicated_span_profile(docs).collect():
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert r.n_spans * SPAN_GRAM <= r.dup_tokens or r.dup_tokens == 0
        assert (r.dup_tokens == 0) == (r.n_spans == 0)
        if r.dup_tokens:
            assert r.dup_tokens >= SPAN_GRAM


from tfl_bikes_data_pipeline_spark.operators.dedup import SPAN_GRAM as _SPAN_GRAM


@given(ws=_words.filter(lambda w: len(w) >= _SPAN_GRAM))
@settings(**SETTINGS)
def test_span_profile_exact_copy_is_fully_covered(spark, ws):
    """A doc with an exact corpus twin is 100% duplicated tokens: every
    one of its grams occurs ≥ 2 times, so the interval union spans the
    whole document."""
    from tfl_bikes_data_pipeline_spark.operators.dedup import (
        duplicated_span_profile,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(ws)), (1, " ".join(ws))], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in duplicated_span_profile(docs).collect()}
    for d in (0, 1):
        assert rows[d].dup_tokens == rows[d].n_tokens == len(ws)
        assert rows[d].n_spans == 1


# ---------------------------------------------------------------------------
# two-phase salted top-k (operators/similarity._topk_by_query) — the
# shared extraction behind every cosine top-k; losslessness must hold
# for ANY score multiset (heavy ties, negatives, singleton buckets),
# not just the planted grid in test_similarity.
# ---------------------------------------------------------------------------


@given(
    scores=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),       # qid
            st.integers(min_value=-3, max_value=3),      # coarse score → ties
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=1, max_value=7),
)
@settings(**SETTINGS)
def test_topk_two_phase_matches_window_model(spark, scores, k):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tfl_bikes_data_pipeline_spark.operators.similarity import _topk_by_query

    rows = [(qid, i, float(s)) for i, (qid, s) in enumerate(scores)]
    scored = spark.createDataFrame(rows, "qid INT, vec_id INT, cos_sim DOUBLE")
    got = [
        (r.qid, r.vec_id, r.rank) for r in _topk_by_query(scored, k).collect()
    ]
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    want = [
        (r.qid, r.vec_id, r.rank)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# salt-invariance at corpus scale (VERDICT r7 item 8): the bucket count
# must be a pure performance knob. 1 degenerates phase 1 into the global
# ranking (ground truth), 64 is the shipped TOPK_SALT, 256 over-salts so
# most buckets hold < k rows (the prune keeps everything — worst case for
# the losslessness argument). 20k scored rows across 8 queries with a
# coarse score grid forces heavy cross-bucket ties; the (cos_sim DESC,
# vec_id ASC) total order makes the unique answer comparable row-by-row.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("salt", [1, 64, 256])
def test_topk_salt_invariance_corpus_scale(spark, salt):
    from pyspark.sql import functions as F

    from tfl_bikes_data_pipeline_spark.operators.similarity import _topk_by_query

    scored = spark.range(20_000).select(
        F.pmod(F.col("id"), F.lit(8)).cast("int").alias("qid"),
        F.col("id").cast("int").alias("vec_id"),
        # deterministic coarse grid in [0, 40) → ~500-way ties per score
        F.pmod(F.abs(F.hash(F.col("id"))), F.lit(40)).cast("double").alias("cos_sim"),
    )
    got = [
        (r.qid, r.vec_id, r.rank)
        for r in _topk_by_query(scored, 25, salt=salt).collect()
    ]
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    want = [
        (r.qid, r.vec_id, r.rank)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 25)
        .orderBy("qid", "rank")
        .collect()
    ]
    assert len(got) == 8 * 25
    assert got == want


def test_distributed_ranks_equal_window_functions(spark, sf_dir):
    """The scale-out rank path (range exchange + offset pass) must be
    row-identical to the window-function form it replaced in
    q_ntile_window — ntile bucket boundaries, percent_rank and
    cume_dist ratios, all of it (r10: the windowed form funnels each
    group through one task; this pin keeps the semantics while the
    plan scales out)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tfl_bikes_data_pipeline_spark.functions.ranks import distribution_ranks
    from tfl_bikes_data_pipeline_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    windowed = events.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )
    scaled = distribution_ranks(
        events, "event_type", ["value", "event_id"], 4
    ).select(
        "event_id",
        "event_type",
        F.col("bucket").cast("int").alias("quartile"),
        "pct_rank",
        "cume",
    )
    # collect-and-compare, NOT exceptAll: Spark marks mapInPandas
    # non-deterministic, and set-op planning over a non-deterministic
    # source re-evaluates the subtree inconsistently between branches
    key = ["event_type", "event_id"]
    w_rows = [tuple(r) for r in windowed.orderBy(*key).collect()]
    s_rows = [tuple(r) for r in scaled.orderBy(*key).collect()]
    assert len(w_rows) == len(s_rows) > 0
    for wr, sr in zip(w_rows, s_rows):
        assert wr[:3] == sr[:3], (wr, sr)  # ids + ntile bucket exact
        assert abs(wr[3] - sr[3]) < 1e-12 and abs(wr[4] - sr[4]) < 1e-12, (wr, sr)


def test_distributed_ranks_handle_null_group_key(spark):
    """r10 review: a NULL group key crashed the literal-map lookup
    (NULL_MAP_KEY) and pandas' default dropna silently emitted NULL
    ranks — while the window form ranks the NULL group like any other.
    Pin window parity on a null-bearing frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tfl_bikes_data_pipeline_spark.functions.ranks import distribution_ranks

    df = spark.range(300).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 2).cast("string")))
        .alias("event_type"),
        (F.col("id") * 37 % 101).cast("double").alias("value"),
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    windowed = df.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )
    scaled = distribution_ranks(df, "event_type", ["value", "event_id"], 4).select(
        "event_id",
        "event_type",
        F.col("bucket").cast("int").alias("quartile"),
        "pct_rank",
        "cume",
    )
    key = ["event_id"]
    w_rows = [tuple(r) for r in windowed.orderBy(*key).collect()]
    s_rows = [tuple(r) for r in scaled.orderBy(*key).collect()]
    assert len(w_rows) == len(s_rows) == 300
    for wr, sr in zip(w_rows, s_rows):
        assert wr[:3] == sr[:3], (wr, sr)
        assert abs(wr[3] - sr[3]) < 1e-12 and abs(wr[4] - sr[4]) < 1e-12, (wr, sr)


def test_distributed_ranks_survive_interleaved_construction(spark):
    """A rank frame built before a second one must still evaluate, in
    either order, and so must a frame evaluated again after the query
    scope released its sorted relation and offsets broadcast: release
    unpersists, it never destroys."""
    from pyspark.sql import functions as F

    from tfl_bikes_data_pipeline_spark import scope
    from tfl_bikes_data_pipeline_spark.functions.ranks import distribution_ranks

    df = spark.range(200).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") * 37 % 101).cast("double").alias("value"),
    )
    a = distribution_ranks(df, "event_type", ["value", "event_id"], 4)
    b = distribution_ranks(df, "event_type", ["value", "event_id"], 2)
    # evaluate the FIRST frame after the second was constructed
    a_rows = a.orderBy("event_id").collect()
    b_rows = b.orderBy("event_id").collect()
    assert len(a_rows) == len(b_rows) == 200
    assert {r.bucket for r in a_rows} == {1, 2, 3, 4}
    assert {r.bucket for r in b_rows} == {1, 2}
    scope.release()
    assert a.orderBy("event_id").collect() == a_rows


def test_query_scope_releases_persisted_state_before_next_query(spark, sf_dir):
    """What a registry query persists does not live on into the next
    query: building q_topk_count leaves none of the RDDs that
    q_quantiles_scaleout (rank recipe) and q_ann_kmeans_assign
    (retained k-means corpus) persisted."""
    from tfl_bikes_data_pipeline_spark import registry

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    held: set = set()
    for name in ("q_quantiles_scaleout", "q_ann_kmeans_assign"):
        before = persisted()
        df = registry.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        new = persisted() - before
        assert new, f"{name} persisted nothing, so the check would be vacuous"
        held |= new
    registry.QUERIES["q_topk_count"](spark, sf_dir)
    assert not held & persisted()


def test_query_scope_release_keeps_built_frames_evaluable(spark, sf_dir):
    """Rank-recipe frames built before another registry query was built
    return the same rows afterwards, whether or not they were evaluated
    before the release."""
    from tfl_bikes_data_pipeline_spark import registry

    q = registry.QUERIES["q_quantiles_scaleout"]
    evaluated = q(spark, sf_dir)
    rows = evaluated.collect()
    assert rows
    unevaluated = q(spark, sf_dir)
    registry.QUERIES["q_topk_count"](spark, sf_dir)
    assert evaluated.collect() == rows
    assert unevaluated.collect() == rows


def test_distributed_ranks_reject_float_group_key(spark):
    """ADVICE r10: pandas folds a NaN float key into the NULL group
    while Spark ranks NaN as a distinct non-null value — float keys
    must fail loudly instead of silently diverging from window parity."""
    import pytest
    from pyspark.sql import functions as F

    from tfl_bikes_data_pipeline_spark.functions.ranks import ranked_by_group

    df = spark.range(10).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("double").alias("key_f"),
    )
    with pytest.raises(ValueError, match="floating-point group keys"):
        ranked_by_group(df, "key_f", ["event_id"])
