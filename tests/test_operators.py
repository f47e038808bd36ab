"""Beyond-reference operator tests: text, dedup, similarity, multimodal,
streaming windows — semantics checks on small controlled inputs."""

import pytest
from pyspark.sql import Row, functions as F

from bid_evaluation_ext.operators import dedup as D
from bid_evaluation_ext.operators import multimodal as M
from bid_evaluation_ext.operators import similarity as S
from bid_evaluation_ext.operators import text as T
from bid_evaluation_ext.streaming import events as E


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a completely different document about spark engines"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (5, ""),
        ],
        "doc_id long, text string",
    )


def by_id(df, key="doc_id"):
    return {r[key]: r.asDict() for r in df.collect()}


# --- text ---

def test_text_stats(docs):
    r = by_id(T.with_text_stats(docs))
    assert r[1]["n_tokens"] == 9
    assert r[1]["n_distinct_tokens"] == 8  # 'the' twice
    assert r[5]["n_tokens"] == 0 and r[5]["avg_token_len"] == 0.0
    assert r[1]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' x2
    assert r[3]["stopword_ratio"] == pytest.approx(1 / 7)  # only 'a'


def test_token_counts(docs):
    r = by_id(docs.select("doc_id", T.token_count(F.col("text")).alias("n"),
                          T.bpe_ish_token_count(F.col("text")).alias("b")))
    assert r[1]["n"] == 9 and r[5]["n"] == 0
    assert r[1]["b"] == 9  # no punctuation


def test_fingerprint_exact_dups(docs):
    groups = D.exact_duplicate_groups(docs)
    dup = [r for r in groups.collect() if r["n_dups"] > 1]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1 and dup[0]["n_dups"] == 2
    kept = D.dedup_exact(docs)
    assert kept.count() == 4 and kept.filter("doc_id = 4").count() == 0


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sh = df.select(T.word_shingles(F.col("text"), 3).alias("s")).first()["s"]
    assert sorted(sh) == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert short.select(T.word_shingles(F.col("text"), 3).alias("s")).first()["s"] == []


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is a pet"),
         (2, "der hund und die katze ist das tier"),
         (3, "la casa el perro los gatos es aqui")],
        "doc_id long, text string",
    )
    r = by_id(df.select("doc_id", T.language_id().alias("lang")))
    assert r[1]["lang"] == "en"
    assert r[2]["lang"] == "de"
    assert r[3]["lang"] == "es"


# --- dedup ---

def test_minhash_finds_near_dups(docs):
    res = D.minhash_near_duplicates(docs, threshold=0.5, num_perm=64, bands=16)
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in res.collect()}
    # doc1 vs doc4 identical → jaccard 1.0 must be a candidate pair
    assert pairs.get((1, 4)) == pytest.approx(1.0)
    # docs 1/2 share 6 of 8 distinct 3-shingles... jaccard = 6/8
    if (1, 2) in pairs:
        assert pairs[(1, 2)] == pytest.approx(6 / 8)


def test_minhash_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w6")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    r = D.ngram_jaccard(pairs, df, k=3).first()
    # shingles: {123,234,345} vs {123,234,346} → 2 common, 4 union
    assert r["jaccard"] == pytest.approx(0.5)


def test_ngram_jaccard_isin_route_matches_semijoin(docs, monkeypatch):
    """r12 opt: below the pair cap the docs prune is an isin literal
    predicate on the scan; above it a distinct + left-semi join. Both
    routes must produce identical rows — including null-id pairs
    (dropped by the inner verify joins either way) and an empty
    candidate set."""
    pairs = (docs.sparkSession.createDataFrame(
        [(1, 2), (1, 4), (None, 3), (2, None)],
        "a_id long, b_id long"))

    def rows(cap):
        import os
        os.environ["SPARK_GRAFT_JACCARD_PAIRS_LOCAL_MAX"] = cap
        try:
            return sorted(
                (r["a_id"], r["b_id"], round(r["jaccard"], 9))
                for r in D.ngram_jaccard(pairs, docs, k=3).collect())
        finally:
            del os.environ["SPARK_GRAFT_JACCARD_PAIRS_LOCAL_MAX"]

    got_isin, got_semi = rows("100"), rows("0")
    assert got_isin == got_semi
    assert (1, 4, 1.0) in got_isin                 # exact dup pair
    assert all(a is not None and b is not None for a, b, _ in got_isin)

    empty = docs.sparkSession.createDataFrame([], "a_id long, b_id long")
    assert D.ngram_jaccard(empty, docs, k=3).count() == 0


def test_ngram_jaccard_kernel_matches_join_engine(spark):
    """r12 opt: above the pair cap with a bounded docs side, the verify
    runs as an Arrow set-intersection kernel over the pair stream — it
    must equal the verify joins exactly: same doubles, null jaccard for
    empty∪empty, null/unknown-id pairs dropped, duplicate (a,b) pair
    rows preserved, duplicate DOC ids fall back to the joins."""
    import os
    import random

    rnd = random.Random(1217)
    words = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(i, " ".join(rnd.choice(words) for _ in range(rnd.randint(0, 18))))
         for i in range(40)] + [(98, ""), (99, "a b")],
        "doc_id long, text string")
    prs = [(a, b) for a in range(42) for b in range(42) if a < b]
    prs += [(0, 1), (98, 99), (98, 98), (7, 777), (None, 3), (2, None)]
    pairs = spark.createDataFrame(prs, "a_id long, b_id long")

    def rows(engine):
        return sorted(
            (r["a_id"], r["b_id"],
             None if r["jaccard"] is None else r["jaccard"])
            for r in D.ngram_jaccard(pairs, docs, k=3,
                                     engine=engine).collect())

    got_kernel, got_join = rows("auto"), rows("join")
    assert got_kernel == got_join and len(got_join) > 500
    # the empty∪empty pair scores null either way
    assert (98, 98, None) in got_kernel
    # duplicate doc ids: auto must fall back to the join multiplicity
    ddocs = docs.unionByName(docs.limit(2))
    gk = sorted((r["a_id"], r["b_id"], r["jaccard"]) for r in
                D.ngram_jaccard(pairs, ddocs, k=3, engine="auto").collect())
    gj = sorted((r["a_id"], r["b_id"], r["jaccard"]) for r in
                D.ngram_jaccard(pairs, ddocs, k=3, engine="join").collect())
    assert gk == gj
    # docs cap reroutes to the joins
    os.environ["SPARK_GRAFT_JACCARD_DOCS_LOCAL_MAX"] = "2"
    try:
        assert rows("auto") == got_join
    finally:
        del os.environ["SPARK_GRAFT_JACCARD_DOCS_LOCAL_MAX"]
    import pytest as _pt
    with _pt.raises(ValueError, match="engine"):
        D.ngram_jaccard(pairs, docs, engine="bogus")


def test_simhash_identical_and_distance(docs):
    sigs = by_id(docs.select("doc_id", D.simhash().alias("sh")))
    assert sigs[1]["sh"] == sigs[4]["sh"]  # identical docs → identical simhash
    res = D.simhash_near_duplicates(docs, max_hamming=0)
    pairs = {(r["a_id"], r["b_id"]) for r in res.collect()}
    assert (1, 4) in pairs


def test_embedding_near_duplicates(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0], label=0),
         Row(vec_id=2, embedding=[0.999, 0.01], label=0),
         Row(vec_id=3, embedding=[0.0, 1.0], label=0)],
    )
    res = D.embedding_near_duplicates(df, threshold=0.99, block_col="label")
    pairs = {(r["a_id"], r["b_id"]) for r in res.collect()}
    assert pairs == {(1, 2)}


# --- similarity ---

def test_cosine_topk_deterministic(spark):
    rows = [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(1, 6)]
    df = spark.createDataFrame(rows)
    q = df.filter("vec_id = 5")
    res = S.cosine_topk(q, df, k=2).collect()
    assert [r["neighbor_id"] for r in res] == [4, 3]
    assert all(r["query_id"] == 5 for r in res)


def test_cosine_topk_two_phase_equivalence(spark):
    rows = [Row(vec_id=i, embedding=[float((i * 37) % 11), float((i * 13) % 7), 1.0])
            for i in range(40)]
    df = spark.createDataFrame(rows).repartition(4)
    q = df.filter("vec_id < 5")
    a = {(r.query_id, r.rnk): r.neighbor_id
         for r in S.cosine_topk(q, df, k=5).collect()}
    b = {(r.query_id, r.rnk): r.neighbor_id
         for r in S.cosine_topk(q, df, k=5, two_phase=True).collect()}
    assert a == b


def test_lsh_topk_subset_of_exact(spark):
    rows = [Row(vec_id=i, embedding=[float((i * 31) % 17), float((i * 7) % 5), 2.0])
            for i in range(60)]
    df = spark.createDataFrame(rows)
    q = df.filter("vec_id < 3")
    approx = S.lsh_topk(q, df, k=3, num_planes=2)
    assert approx.count() > 0  # probes its bucket; recall checked vs exact below
    exact_sims = {(r.query_id, r.neighbor_id): r.cosine
                  for r in S.cosine_topk(q, df, k=60).collect()}
    for r in approx.collect():
        assert (r.query_id, r.neighbor_id) in exact_sims
        assert r.cosine == pytest.approx(exact_sims[(r.query_id, r.neighbor_id)])


# --- streaming (batch semantics) ---

def test_tumbling_and_sliding(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", "a", 1.0),
         (2, "2024-01-01 00:50:00", "a", 2.0),
         (3, "2024-01-01 01:10:00", "a", 4.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    t = E.tumbling_agg(df, "1 hour")
    r = {str(x["window_start"]): x for x in t.collect()}
    assert r["2024-01-01 00:00:00"]["n_events"] == 2
    assert r["2024-01-01 00:00:00"]["sum_value"] == pytest.approx(3.0)
    assert r["2024-01-01 01:00:00"]["n_events"] == 1
    s = E.sliding_agg(df, "2 hours", "1 hour")
    rows = {(str(x["window_start"])): x["n_events"] for x in s.collect()}
    assert rows["2024-01-01 00:00:00"] == 3  # window 00-02 catches all
    assert rows["2023-12-31 23:00:00"] == 2  # window 23-01


def test_sessionize(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 1.0),
         (2, "2024-01-01 00:10:00", 7, 2.0),
         (3, "2024-01-01 01:00:00", 7, 4.0),   # 50-min gap → new session
         (4, "2024-01-01 00:00:00", 8, 8.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    res = E.sessionize(df, gap_seconds=1800)
    rows = sorted([(r["user_id"], r["n_events"], r["sum_value"]) for r in res.collect()])
    assert rows == [(7, 1, 4.0), (7, 2, 3.0), (8, 1, 8.0)]


def test_stream_tumbling_counts(spark, tmp_path):
    # streaming twin over a file source, availableNow → memory sink
    src = str(tmp_path / "events")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", "a", 1.0), (2, "2024-01-01 00:20:00", "b", 2.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src)
    stream = E.stream_tumbling_counts(spark, src, df.schema, "1 hour", "10 minutes")
    assert stream.isStreaming
    q = (stream.writeStream.format("memory").queryName("agg_smoke")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM agg_smoke").collect()
    assert {r["event_type"] for r in out} == {"a", "b"}


# --- multimodal ---

def test_multimodal_fake_features(spark):
    md = M.synthetic_media_df(spark, 9)
    feats = M.extract_image_features(md, fake=True)
    rows = feats.collect()
    assert len(rows) == 9
    assert all(len(r["embedding"]) == 8 for r in rows)
    # video rows are real Y4M clips; audio rows are real WAVs
    assert all(r["n_bytes"] > 64 for r in rows if r["media_id"] % 3 == 2)
    assert all(r["n_bytes"] > 64 for r in rows if r["media_id"] % 3 == 1)
    # deterministic: same payload → same sha/embedding
    again = {r["media_id"]: r["sha256"] for r in M.extract_image_features(md, fake=True).collect()}
    assert {r["media_id"]: r["sha256"] for r in rows} == again


def test_multimodal_real_png_decode(spark):
    md = M.synthetic_media_df(spark, 9).filter("media_type = 'image'")
    meta = {r["media_id"]: r for r in md.collect()}
    rows = M.extract_image_features(md, fake=False, strict=True).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["width"] == meta[r["media_id"]]["width"]
        assert r["height"] == meta[r["media_id"]]["height"]
        assert 0.0 <= r["mean_luma"] <= 255.0
        assert len(r["embedding"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["embedding"])


def test_multimodal_corrupt_payload_yields_nulls(spark):
    md = spark.createDataFrame(
        [(1, b"not a png at all", "image", "image/png", None, None, None)],
        M.MEDIA_SCHEMA,
    )
    r = M.extract_image_features(md, fake=False).first()
    assert r["width"] is None and r["mean_luma"] is None and r["embedding"] is None
    assert r["n_bytes"] == 16  # portable features still computed
    with pytest.raises(Exception, match="PNG|signature"):
        M.extract_image_features(md, fake=False, strict=True).collect()


def test_frame_sampling(spark):
    import numpy as np

    md = M.synthetic_media_df(spark, 9).filter("media_type = 'video'")
    meta = {r["media_id"]: r for r in md.collect()}
    # REAL decode: synthetic clips run at 1 fps, so a 1000ms cadence samples
    # every frame — count equals duration/1000 and luma comes from pixels
    frames = M.sample_frames(md, every_ms=1000).collect()
    per = {}
    for r in frames:
        per[r["media_id"]] = per.get(r["media_id"], 0) + 1
        m = meta[r["media_id"]]
        assert (r["width"], r["height"]) == (m["width"], m["height"])
        w, h, i, k = m["width"], m["height"], r["media_id"], r["frame_index"]
        expect = float(((np.arange(w)[None, :] + 3 * np.arange(h)[:, None]
                         + 5 * k + i) % 256).mean())
        assert abs(r["frame_mean_luma"] - expect) < 1e-9
    assert per == {mid: m["duration_ms"] // 1000 for mid, m in meta.items()}
    # fake path: metadata-duration row explosion, null pixel features
    fk = M.sample_frames(md, every_ms=1000, fake=True).collect()
    assert len(fk) == len(frames) and all(r["width"] is None for r in fk)
    # corrupt payload: skipped silently, raises under strict
    bad = spark.createDataFrame(
        [(99, b"not video", "video", "video/x-yuv4mpeg", None, None, 1000)],
        M.MEDIA_SCHEMA)
    assert M.sample_frames(bad).count() == 0
    with pytest.raises(Exception, match="YUV4MPEG2"):
        M.sample_frames(bad, strict=True).collect()


def test_session_window_agg_matches_sessionize(spark):
    # same sessions as the lag/cumsum form away from exact gap boundaries
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 1.0),
         (2, "2024-01-01 00:10:00", 7, 2.0),
         (3, "2024-01-01 01:00:00", 7, 4.0),
         (4, "2024-01-01 00:00:00", 8, 8.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    native = E.session_window_agg(df, "30 minutes")
    rows = sorted([(r["user_id"], r["n_events"], r["sum_value"])
                   for r in native.collect()])
    assert rows == [(7, 1, 4.0), (7, 2, 3.0), (8, 1, 8.0)]
    # session bounds: native end = last_ts + gap
    sess = {(r["user_id"], str(r["session_start"])): str(r["session_end"])
            for r in native.collect()}
    assert sess[(7, "2024-01-01 00:00:00")] == "2024-01-01 00:40:00"


def test_running_user_totals_stream(spark, tmp_path):
    from bid_evaluation_ext.streaming.stateful import running_user_totals

    src = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 1.0),
         (2, "2024-01-01 00:10:00", 7, 2.0),
         (3, "2024-01-01 00:20:00", 8, 8.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (running_user_totals(stream).writeStream.format("memory")
         .queryName("totals_smoke").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # last emitted row per user == batch totals
    out = {r["user_id"]: r for r in spark.sql(
        "SELECT * FROM totals_smoke").collect()}
    assert out[7]["n_events"] == 2 and out[7]["sum_value"] == pytest.approx(3.0)
    assert out[7]["mean_value"] == pytest.approx(1.5)
    assert out[8]["n_events"] == 1 and out[8]["sum_value"] == pytest.approx(8.0)


def test_flag_value_anomalies_stream(spark, tmp_path):
    from bid_evaluation_ext.streaming.stateful import flag_value_anomalies

    src = str(tmp_path / "ev2")
    # 12 steady values then one wild outlier for user 7
    rows = [(i, f"2024-01-01 00:{i:02d}:00", 7, 10.0 + (i % 3) * 0.1)
            for i in range(12)]
    rows.append((12, "2024-01-01 00:12:00", 7, 500.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (flag_value_anomalies(stream, z_threshold=3.0, min_history=10)
         .writeStream.format("memory").queryName("anom_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM anom_smoke ORDER BY ts").collect()
    assert len(out) == 13
    flagged = [r for r in out if r["is_anomaly"]]
    assert [float(r["value"]) for r in flagged] == [500.0]
    # early events (insufficient history) are never flagged
    assert all(r["zscore"] is None for r in out[:10])


def test_salted_agg_matches_plain_groupby(spark):
    from bid_evaluation_ext.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None), ("b", 4.0), ("c", None)],
        "k string, v double",
    )
    got = {r["k"]: r for r in salted_agg(
        df, ["k"],
        {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"),
         "mx": ("max", "v"), "avg_v": ("avg", "v")},
        salt_buckets=4,
    ).collect()}
    want = {r["k"]: r for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx"),
        F.avg("v").alias("avg_v"),
    ).collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ("n", "s", "mn", "mx", "avg_v"):
            assert got[k][c] == want[k][c], (k, c)
    with pytest.raises(ValueError, match="unsupported"):
        salted_agg(df, ["k"], {"x": ("median", "v")})


def test_asof_join(spark):
    from bid_evaluation_ext.operators.asof import asof_join

    left = spark.createDataFrame(
        [(7, "2024-01-01 00:10:00", "c1"), (7, "2024-01-01 00:30:00", "c2"),
         (8, "2024-01-01 00:05:00", "c3")],
        "user_id long, ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(7, "2024-01-01 00:10:00", 5.0), (7, "2024-01-01 00:20:00", 9.0),
         (9, "2024-01-01 00:00:00", 1.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    res = {r["tag"]: r for r in asof_join(left, right).collect()}
    assert res["c1"]["value_right"] == 5.0          # exact-ts match included
    assert res["c2"]["value_right"] == 9.0          # latest earlier
    assert res["c3"]["value_right"] is None         # no right row for user 8
    assert str(res["c2"]["ts_right"]) == "2024-01-01 00:20:00"
    strict = {r["tag"]: r for r in asof_join(left, right, allow_exact=False).collect()}
    assert strict["c1"]["value_right"] is None      # exact excluded


def test_asof_join_forward_and_nearest(spark):
    from bid_evaluation_ext.operators.asof import asof_join

    left = spark.createDataFrame(
        [(7, 10.0, "c1"), (7, 31.0, "c2"), (7, 90.0, "c3")],
        "user_id long, ts double, tag string")
    right = spark.createDataFrame(
        [(7, 10.0, 5.0), (7, 30.0, 9.0), (7, 40.0, 11.0)],
        "user_id long, ts double, value double")

    fwd = {r["tag"]: r for r in
           asof_join(left, right, direction="forward").collect()}
    assert fwd["c1"]["value_right"] == 5.0          # exact-ts forward match
    assert fwd["c2"]["value_right"] == 11.0         # earliest later (40)
    assert fwd["c3"]["value_right"] is None         # nothing later

    fwd_strict = {r["tag"]: r for r in
                  asof_join(left, right, direction="forward",
                            allow_exact=False).collect()}
    assert fwd_strict["c1"]["value_right"] == 9.0   # exact excluded → 30

    near = {r["tag"]: r for r in
            asof_join(left, right, direction="nearest").collect()}
    assert near["c2"]["value_right"] == 9.0         # |31-30|=1 < |40-31|=9
    assert near["c3"]["value_right"] == 11.0        # only backward exists
    # equidistant tie prefers backward: left ts 35 between 30 and 40
    tie = spark.createDataFrame([(7, 35.0, "t")],
                                "user_id long, ts double, tag string")
    t = asof_join(tie, right, direction="nearest").first()
    assert t["value_right"] == 9.0 and t["ts_right"] == 30.0

    with pytest.raises(ValueError):
        asof_join(left, right, direction="sideways")


def test_asof_join_tolerance(spark):
    from bid_evaluation_ext.operators.asof import asof_join

    left = spark.createDataFrame(
        [(7, 10.0, "c1"), (7, 100.0, "c2")],
        "user_id long, ts double, tag string")
    right = spark.createDataFrame(
        [(7, 8.0, 5.0)], "user_id long, ts double, value double")
    res = {r["tag"]: r for r in
           asof_join(left, right, tolerance=5.0).collect()}
    assert res["c1"]["value_right"] == 5.0          # delta 2 within bound
    assert res["c2"]["value_right"] is None         # delta 92 nulled out
    assert res["c2"]["ts_right"] is None            # whole payload nulled
    near = asof_join(left, right, direction="nearest", tolerance=1.0).collect()
    assert all(r["value_right"] is None for r in near)
    with pytest.raises(ValueError):
        asof_join(left, right, tolerance=-1.0)


def test_near_duplicate_clusters_and_dedup(spark):
    from bid_evaluation_ext.operators.dedup import (
        dedup_near_duplicates, near_duplicate_clusters)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (3, 9)], "a_id long, b_id long"
    )  # components {1,2,3,9} and {5,6}
    got = {r["id"]: r["cluster_id"]
           for r in near_duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}

    # the two CC engines are interchangeable (round-7 twophase addition)
    got2 = {r["id"]: r["cluster_id"]
            for r in near_duplicate_clusters(
                pairs, algorithm="twophase").collect()}
    assert got2 == got
    with pytest.raises(ValueError):
        near_duplicate_clusters(pairs, algorithm="bogus")

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 5, 6, 9, 42)], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"]
                  for r in dedup_near_duplicates(docs, pairs).collect())
    assert kept == [1, 5, 42]  # canonical mins + untouched row


def test_near_duplicate_clusters_auto_dispatch(spark, monkeypatch):
    """auto == label == local on the same graph; the ceiling flips auto
    to the distributed engine; empty pair sets stay empty (r12 opt)."""
    from bid_evaluation_ext.operators.dedup import near_duplicate_clusters

    pairs = spark.createDataFrame(
        [(4, 2), (2, 8), (30, 31), (9, 9), (1, 8)], "a_id long, b_id long")
    want = {r["id"]: r["cluster_id"]
            for r in near_duplicate_clusters(
                pairs, algorithm="label").collect()}
    for algo in ("auto", "local"):
        got = {r["id"]: r["cluster_id"]
               for r in near_duplicate_clusters(
                   pairs, algorithm=algo).collect()}
        assert got == want, algo
    # above the ceiling auto must route to the distributed engine and
    # still produce the identical labeling
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_MAX", "2")
    got = {r["id"]: r["cluster_id"]
           for r in near_duplicate_clusters(pairs).collect()}
    assert got == want
    monkeypatch.delenv("SPARK_GRAFT_CC_LOCAL_MAX")
    assert near_duplicate_clusters(pairs.limit(0)).collect() == []
    # string ids survive the Arrow hop in the local engine
    sp = spark.createDataFrame([("a", "b"), ("b", "c")],
                               "a_id string, b_id string")
    got = {r["id"]: r["cluster_id"]
           for r in near_duplicate_clusters(sp).collect()}
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_range_join(spark):
    from bid_evaluation_ext.operators.asof import range_join

    pts = spark.createDataFrame(
        [(1, 7, 5.0), (2, 7, 25.0), (3, 7, 99.0), (4, 8, 5.0)],
        "pid long, user_id long, x double",
    )
    iv = spark.createDataFrame(
        [(7, 0.0, 10.0, "a"), (7, 20.0, 30.0, "b"), (8, 100.0, 200.0, "c")],
        "user_id long, lo double, hi double, iname string",
    )
    res = range_join(pts, iv, point_col="x", start_col="lo", end_col="hi",
                     by=["user_id"], bucket_width=10.0)
    got = sorted((r["pid"], r["iname"]) for r in res.collect())
    assert got == [(1, "a"), (2, "b")]  # pid3 no interval; pid4 wrong user
    # boundary semantics
    edge = spark.createDataFrame([(9, 7, 10.0)], "pid long, user_id long, x double")
    both = range_join(edge, iv, "x", "lo", "hi", ["user_id"], 10.0, closed="both")
    left = range_join(edge, iv, "x", "lo", "hi", ["user_id"], 10.0, closed="left")
    assert [r["iname"] for r in both.collect()] == ["a"]
    assert left.count() == 0
    with pytest.raises(ValueError, match="closed"):
        range_join(pts, iv, "x", "lo", "hi", closed="nope")


def test_multimodal_audio_features_real_decode(spark):
    """REAL WAV kernel: rate/duration from the container, RMS and
    zero-crossings from the actual sine samples."""
    md = M.synthetic_media_df(spark, 12).filter(F.col("media_type") == "audio")
    rows = {r["media_id"]: r
            for r in M.extract_audio_features(md).collect()}
    meta = {r["media_id"]: r for r in md.collect()}
    assert len(rows) == 4
    for mid, r in rows.items():
        assert r["sample_rate"] == 8000
        assert r["duration_ms"] == meta[mid]["duration_ms"]
        # 0.6·sin + 0.2·sin(3f): RMS = sqrt(0.6²/2 + 0.2²/2) ≈ 0.4472
        assert r["rms"] == pytest.approx(0.4472, abs=0.01)
        assert len(r["mfcc_like"]) == 13
        # zero crossings ≈ 2 · freq · duration for the dominant tone
        i = mid
        freq = 200.0 + (i % 10) * 60.0
        expect_zc = 2 * freq * (meta[mid]["duration_ms"] / 1000.0)
        assert abs(r["zero_crossings"] - expect_zc) <= expect_zc * 0.4 + 4

    # spectral features must separate different pitches
    import numpy as np

    ids = sorted(rows)
    a, b = (np.array(rows[i]["mfcc_like"]) for i in ids[:2])
    assert not np.allclose(a, b)


def test_multimodal_audio_corrupt_and_fake(spark):
    # non-WAV payloads (video rows) yield null features, never an error
    md = M.synthetic_media_df(spark, 12).filter(F.col("media_type") == "video")
    rows = M.extract_audio_features(md).collect()
    assert len(rows) == 4
    assert all(r["rms"] is None and r["sample_rate"] is None for r in rows)
    # strict mode surfaces the decode error
    with pytest.raises(Exception):
        M.extract_audio_features(md, strict=True).collect()
    # stub kernel still available for arbitrary bytes
    fake = M.extract_audio_features(md, fake=True).collect()
    assert all(len(r["mfcc_like"]) == 13 and r["rms"] is not None
               for r in fake)


def test_wav_codec_roundtrip():
    import numpy as np

    from bid_evaluation_ext.operators.wav import (
        band_energies, decode_wav, encode_wav,
    )

    t = np.arange(8000) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    rate, back = decode_wav(encode_wav(sig, rate=8000))
    assert rate == 8000 and len(back) == 8000
    assert np.abs(back - sig).max() < 1e-3  # 16-bit quantization bound
    # a 440 Hz tone concentrates energy in one band; bands are finite
    bands = band_energies(back, rate)
    assert len(bands) == 13 and np.isfinite(bands).all()
    with pytest.raises(Exception):
        decode_wav(b"not a wav file")


def test_session_window_agg_streaming(spark, tmp_path):
    # the native session_window form must run as a real streaming query
    from bid_evaluation_ext.streaming.events import session_window_agg

    src = str(tmp_path / "sw_events")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 1.0),
         (2, "2024-01-01 00:10:00", 7, 2.0),
         (3, "2024-01-01 02:00:00", 7, 4.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src)
    stream = (spark.readStream.schema(df.schema).parquet(src)
              .withWatermark("ts", "10 minutes"))
    q = (session_window_agg(stream, "30 minutes")
         .writeStream.format("memory").queryName("sw_smoke")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted((r["n_events"], r["sum_value"])
                  for r in spark.sql("SELECT * FROM sw_smoke").collect())
    assert rows == [(1, 4.0), (2, 3.0)]


def test_streaming_dedup_filter(spark, tmp_path):
    from bid_evaluation_ext.streaming.stateful import streaming_dedup_filter

    # two micro-batches: dup within batch 1, cross-batch dup in batch 2
    b1 = spark.createDataFrame(
        [(1, "hello  world"), (2, "HELLO WORLD"), (3, "unique one")],
        "doc_id long, text string",
    )  # 1 and 2 share a normalized fingerprint -> min id 1 wins
    b2 = spark.createDataFrame(
        [(4, "hello world"), (5, "another new")], "doc_id long, text string",
    )  # 4 duplicates batch-1 content
    import time as _time

    src = str(tmp_path / "docs_stream")
    # one file per batch, ordered mtimes -> deterministic micro-batch order
    b1.coalesce(1).write.parquet(f"{src}/batch=0")
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(f"{src}/batch=1")
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_dedup_filter(stream)
         .writeStream.format("memory").queryName("dedup_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["is_first"]
            for r in spark.sql("SELECT * FROM dedup_smoke").collect()}
    assert rows == {1: True, 2: False, 3: True, 4: False, 5: True}


def test_streaming_neardup_candidates(spark, tmp_path):
    from bid_evaluation_ext.streaming.stateful import (
        streaming_neardup_candidates,
    )

    base = ("the quick brown fox jumps over the lazy dog and keeps running "
            "through the quiet field while morning light rises slowly")
    near = base.replace("morning", "evening")
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark lineage here "
                        "with many unrelated tokens filling the space")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, base), (4, near), (5, "yet another unrelated document body "
                                   "holding novel words only")],
        "doc_id long, text string",
    )
    import time as _time

    src = str(tmp_path / "neardup_stream")
    b1.coalesce(1).write.parquet(f"{src}/batch=0")
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(f"{src}/batch=1")
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_neardup_candidates(stream, threshold=0.5)
         .writeStream.format("memory").queryName("neardup_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT doc_id, matched_id, max(est_jaccard) AS est "
        "FROM neardup_smoke GROUP BY doc_id, matched_id"
    ).collect()
    pairs = {(r["doc_id"], r["matched_id"]): r["est"] for r in rows}
    # doc 3 duplicates doc 1 (cross-batch): exact signature match
    assert pairs[(3, 1)] == pytest.approx(1.0)
    # doc 4 is a near-dup of doc 1 (and of 3, seen earlier in its batch)
    assert (4, 1) in pairs and pairs[(4, 1)] >= 0.5
    assert (4, 3) in pairs
    # unrelated docs never matched
    assert not any(2 in p or 5 in p for p in pairs)


def test_ivf_topk_recall_vs_exact(spark):
    from bid_evaluation_ext.operators.similarity import ivf_topk, kmeans_centroids

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = kmeans_centroids(df, k=8, max_iter=5)
    assert cents.shape[1] == len(df.first()["embedding"])
    q = df.filter(F.col("vec_id") < 20)
    approx = ivf_topk(q, df, centroids=cents, k=10, nprobe=3)
    exact = S.cosine_topk(q, df, k=10)
    exact_sets = {}
    exact_sims = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        exact_sims[(r["query_id"], r["neighbor_id"])] = r["cosine"]
    hits = total = 0
    for r in approx.collect():
        # returned cosines are TRUE cosines for scanned candidates
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_sims:
            assert r["cosine"] == pytest.approx(exact_sims[key], abs=1e-9)
        if r["neighbor_id"] in exact_sets.get(r["query_id"], set()):
            hits += 1
        total += 1
    assert total > 0
    recall = hits / (10 * len(exact_sets))
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_hashed_shingles_match_string_shingles_cardinality(spark):
    # hashed shingles are a bijection of string shingles (modulo collisions):
    # same count, and equal texts produce equal hash sets
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w")],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        F.size(T.word_shingles(F.col("text"), 3)).alias("ns"),
        F.size(T.hashed_word_shingles(F.col("text"), 3)).alias("nh"),
        T.hashed_word_shingles(F.col("text"), 3).alias("h"),
    ).collect()
    by = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert r["ns"] == r["nh"]
    assert sorted(by[1]["h"]) == sorted(by[2]["h"])
    assert sorted(by[1]["h"]) != sorted(by[3]["h"])
    # modulus folds into [0, m)
    folded = df.select(T.hashed_word_shingles(F.col("text"), 3, modulus=97).alias("h")).collect()
    assert all(0 <= v < 97 for r in folded for v in r["h"])


def test_template_registry_introspection():
    from bid_evaluation_spark.functions.templates import (
        get_template_info, get_template_names)

    names = get_template_names()
    assert set(names) == {"budget_proximity", "sweet_spot_range",
                          "penalty_function", "bonus_tiers",
                          "percentage_of_best", "distance_from_mean"}
    info = get_template_info("budget_proximity")
    assert "target" in info["parameters"]


def test_load_all_registers_views(spark):
    from bid_evaluation_ext.sources.io import TESTDATA_TABLES, load_all

    tables = load_all(spark, "/root/testdata/sf0.001")
    assert set(tables) == set(TESTDATA_TABLES)
    assert spark.sql("SELECT count(*) c FROM region").first()["c"] == 5
    # events ts normalized to a timestamp type, not raw nanos longs
    assert dict(tables["events"].dtypes)["ts"].startswith("timestamp")


def test_asof_join_null_payload_keeps_matched_row(spark):
    """The matched (latest) right row's null field must stay null — not be
    back-filled from an older right row (ADVICE r1: payload rides as one
    struct, matching DuckDB ASOF JOIN)."""
    from bid_evaluation_ext.operators.asof import asof_join

    left = spark.createDataFrame(
        [(7, "2024-01-01 00:10:00", "c")],
        "user_id long, ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(7, "2024-01-01 00:03:00", 7.0), (7, "2024-01-01 00:05:00", None)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    r = asof_join(left, right).first()
    assert str(r["ts_right"]) == "2024-01-01 00:05:00"
    assert r["value_right"] is None  # NOT 7.0 from the older row


def test_embedding_salted_matches_unsalted(spark):
    """Sub-block salting is a physical rewrite only: identical pair set."""
    import random

    rnd = random.Random(7)
    rows = [Row(vec_id=i, embedding=[rnd.uniform(-1, 1) for _ in range(8)],
                label=i % 2) for i in range(40)]
    df = spark.createDataFrame(rows)

    def pairs(res):
        return {(r["a_id"], r["b_id"], round(r["cosine"], 9))
                for r in res.collect()}

    unsalted = D.embedding_near_duplicates(
        df, threshold=0.6, block_col="label", max_block=None)
    salted = D.embedding_near_duplicates(
        df, threshold=0.6, block_col="label", max_block=5)
    p_un, p_s = pairs(unsalted), pairs(salted)
    assert p_un, "fixture must produce at least one pair"
    assert p_s == p_un


def test_language_id_single_lang(spark):
    df = spark.createDataFrame([(1, "whatever text")], "doc_id long, text string")
    r = df.select(T.language_id(langs=["en"]).alias("lang")).first()
    assert r["lang"] == "en"


def test_running_totals_mean_skips_null_values(spark, tmp_path):
    """mean_value = sum / non-null count, matching the batch groupBy.avg twin."""
    from bid_evaluation_ext.streaming.stateful import running_user_totals

    src = str(tmp_path / "ev_null")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 4.0),
         (2, "2024-01-01 00:10:00", 7, None),
         (3, "2024-01-01 00:20:00", 7, 8.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (running_user_totals(stream).writeStream.format("memory")
         .queryName("totals_nulls").outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = {r["user_id"]: r for r in spark.sql(
        "SELECT * FROM totals_nulls").collect()}
    assert out[7]["n_events"] == 3          # all rows counted
    assert out[7]["mean_value"] == pytest.approx(6.0)  # 12.0 / 2 non-null


def test_dedup_release_unpersists(docs):
    res = D.minhash_near_duplicates(docs, threshold=0.5, num_perm=64, bands=16)
    res.collect()
    deps = getattr(res, "_cached_deps", [])
    assert deps and all(d.storageLevel.useMemory for d in deps)
    D.release(res)
    assert all(not d.storageLevel.useMemory for d in deps)


def test_fingerprint_md5_matches_normalization(spark):
    df = spark.createDataFrame(
        [(1, "  Hello   World "), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    r = by_id(df.select("doc_id", T.fingerprint_md5().alias("fp")))
    assert r[1]["fp"] == r[2]["fp"]  # same normalized content
    assert r[1]["fp"] != r[3]["fp"]
    assert len(r[1]["fp"]) == 32  # md5 hex


def test_simhash_kernel_matches_join_engine(spark):
    """r12 opt: the dense local engine must equal the chunk equi-join
    bit-for-bit — same pairs, same hamming — on a messy corpus (near
    dups, exact dups, wide and narrow radius, partial-recall config,
    string ids, null text/ids), and duplicate ids must fall back."""
    import random

    rnd = random.Random(1216)
    words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        base = [rnd.choice(words) for _ in range(20)]
        rows.append((i, " ".join(base)))
        if i % 3 == 0:  # near dup
            mut = list(base)
            mut[rnd.randrange(20)] = rnd.choice(words)
            rows.append((1000 + i, " ".join(mut)))
        if i % 7 == 0:  # exact dup
            rows.append((2000 + i, " ".join(base)))
    rows += [(3000, None), (None, "null id text"), (3001, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for mh, nc in ((3, 4), (15, 16), (8, 4)):  # incl. partial recall
        join = {(r["a_id"], r["b_id"]): r["hamming"] for r in
                D.simhash_near_duplicates(docs, max_hamming=mh,
                                          num_chunks=nc,
                                          engine="join").collect()}
        ker = {(r["a_id"], r["b_id"]): r["hamming"] for r in
               D.simhash_near_duplicates(docs, max_hamming=mh,
                                         num_chunks=nc,
                                         engine="kernel").collect()}
        assert ker == join and len(join) > 0, (mh, nc)
    # string ids
    sdocs = docs.filter(F.col("doc_id").isNotNull()).select(
        F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text")
    sj = {(r["a_id"], r["b_id"]) for r in D.simhash_near_duplicates(
        sdocs, max_hamming=3, engine="join").collect()}
    sk = {(r["a_id"], r["b_id"]) for r in D.simhash_near_duplicates(
        sdocs, max_hamming=3, engine="kernel").collect()}
    assert sk == sj
    # duplicate ids: kernel refuses, auto falls back to the join route
    dup = docs.unionByName(docs.limit(3))
    with pytest.raises(ValueError, match="unique"):
        D.simhash_near_duplicates(dup, engine="kernel").collect()
    dj = {(r["a_id"], r["b_id"]) for r in D.simhash_near_duplicates(
        dup, max_hamming=3, engine="join").collect()}
    da = {(r["a_id"], r["b_id"]) for r in D.simhash_near_duplicates(
        dup, max_hamming=3, engine="auto").collect()}
    assert da == dj
    # env cap reroutes auto to the join engine
    import os
    os.environ["SPARK_GRAFT_SIMHASH_LOCAL_MAX_DOCS"] = "2"
    try:
        dc = {(r["a_id"], r["b_id"]) for r in D.simhash_near_duplicates(
            docs, max_hamming=3, engine="auto").collect()}
    finally:
        del os.environ["SPARK_GRAFT_SIMHASH_LOCAL_MAX_DOCS"]
    base = {(r["a_id"], r["b_id"]) for r in D.simhash_near_duplicates(
        docs, max_hamming=3, engine="join").collect()}
    assert dc == base
    with pytest.raises(ValueError, match="engine"):
        D.simhash_near_duplicates(docs, engine="bogus")


def test_simhash_chunk_param(docs):
    with pytest.raises(ValueError, match="num_chunks"):
        D.simhash_near_duplicates(docs, num_chunks=7)
    # wide-radius blocking finds at least everything the default finds
    d4 = {(r["a_id"], r["b_id"]) for r in
          D.simhash_near_duplicates(docs, max_hamming=3, num_chunks=4).collect()}
    d16 = {(r["a_id"], r["b_id"]) for r in
           D.simhash_near_duplicates(docs, max_hamming=3, num_chunks=16).collect()}
    assert d4 <= d16


def test_jaccard_similarity_join_exact_recall(spark):
    """Prefix-filtered Jaccard join must equal brute-force all-pairs at
    the threshold (recall 1 — the prefix lemma), including tie-at-threshold
    and short-doc edge cases."""
    import itertools
    import random

    from bid_evaluation_ext.operators.dedup import jaccard_similarity_join

    vocab = [f"w{i}" for i in range(30)]
    rng = random.Random(77)
    docs = []
    for i in range(40):
        k = rng.randint(1, 12)
        docs.append((i, " ".join(rng.sample(vocab, k))))
    docs.append((100, docs[0][1]))                    # exact duplicate
    docs.append((101, ""))                            # empty doc
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def brute(th):
        sets = {i: set(t.split()) for i, t in docs if t.split()}
        out = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= th:
                out.add((a, b))
        return out

    for th in (0.5, 0.25, 1.0):
        got = {(r["a_id"], r["b_id"])
               for r in jaccard_similarity_join(df, threshold=th).collect()}
        assert got == brute(th), th


def test_dedup_keep_best(spark):
    """Keep-best policy: cluster keeps the max-score member (ties -> min
    id); unpaired rows untouched."""
    from bid_evaluation_ext.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (9, 0.0)],
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a_id long, b_id long")  # one cluster
    kept = sorted(r["doc_id"] for r in
                  dedup_keep_best(df, pairs, "q").collect())
    # cluster {1,2,3,4}: max q = 0.9 shared by 2 and 3 -> min id 2 wins;
    # 9 is unpaired and survives
    assert kept == [2, 9]


def test_containment_join_exact_recall(spark):
    """One-sided prefix-filtered containment join vs brute force — recall
    1, excerpt case (tiny Jaccard, high containment) included."""
    import itertools

    from bid_evaluation_ext.operators.dedup import containment_join

    hay = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string")
    needles = spark.createDataFrame(
        [(10, "beta gamma delta"),          # fully inside 1 (J tiny!)
         (11, "two three foreign"),         # 2/3 inside 2
         (12, "nothing matches here"),      # fresh
         (13, "")],                         # empty
        "doc_id long, text string")

    def brute(th):
        hs = {i: set(t.split()) for i, t in hay.collect()}
        out = set()
        for ni, nt in needles.collect():
            ns = set(nt.split())
            if not ns:
                continue
            for hi, hset in hs.items():
                if len(ns & hset) / len(ns) >= th:
                    out.add((ni, hi))
        return out

    for th in (0.9, 0.6, 0.34):
        got = {(r["needle_id"], r["hay_id"]) for r in
               containment_join(needles, hay, threshold=th).collect()}
        assert got == brute(th), th
    full = {(r["needle_id"], r["hay_id"]): r["containment"] for r in
            containment_join(needles, hay, threshold=0.9).collect()}
    assert full[(10, 1)] == 1.0


def test_jaccard_join_local_matches_prefix_engine(spark, monkeypatch):
    """r12 opt: the driver dense-matrix route must be value-identical
    to the prefix-filter join — duplicate-id rows merge their token
    sets, null ids and empty docs never pair, same a_id < b_id
    orientation and int→double division; env-cap routing."""
    from bid_evaluation_ext.operators.dedup import jaccard_similarity_join

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "alpha beta gamma epsilon"),
         (3, "one two three"),
         (3, "three four"),            # duplicate id merges
         (None, "alpha beta gamma delta"),
         (4, ""),
         (5, None),
         (6, "alpha beta gamma delta")],
        "doc_id long, text string")

    def rows(engine, th):
        return sorted(
            (r["a_id"], r["b_id"], round(r["jaccard"], 12))
            for r in jaccard_similarity_join(df, threshold=th,
                                             engine=engine).collect())

    for th in (1.0, 0.75, 0.5, 0.2):
        assert rows("kernel", th) == rows("join", th), th
    assert (1, 6, 1.0) in rows("kernel", 1.0)

    monkeypatch.setenv("SPARK_GRAFT_JACCARD_LOCAL_MAX_DOCS", "0")
    assert rows("auto", 0.5) == rows("join", 0.5)
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_LOCAL_MAX_DOCS")
    with pytest.raises(ValueError, match="engine"):
        jaccard_similarity_join(df, engine="bogus")


def test_containment_kernel_matches_join_engine(spark, monkeypatch):
    """r12 opt: the map-only needle-mask kernel must be value-identical
    to the prefix-filter join engine — messy ids (nulls both sides),
    duplicate tokens, empty/whitespace text, string ids, thresholds
    across the range, and the env-cap routing."""
    from bid_evaluation_ext.operators.dedup import containment_join

    hay = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five beta"),
         (None, "alpha beta gamma"),
         (3, None),
         (4, ""),
         (5, "beta beta beta gamma gamma")],
        "doc_id long, text string")
    needles = spark.createDataFrame(
        [(10, "beta gamma delta"),
         (11, "two three foreign"),
         (None, "alpha beta"),
         (12, None),
         (13, ""),
         (14, "beta gamma"),
         (14, "beta gamma")],       # duplicate needle row
        "doc_id long, text string")

    def rows(engine, th):
        return sorted(
            (r["needle_id"], r["hay_id"], round(r["containment"], 12))
            for r in containment_join(needles, hay, threshold=th,
                                      engine=engine).collect())

    for th in (1.0, 0.75, 0.5, 0.3):
        assert rows("kernel", th) == rows("join", th), th

    strs = spark.createDataFrame(
        [("nA", "beta gamma"), ("nB", "zeta")],
        "doc_id string, text string")
    shay = spark.createDataFrame(
        [("h1", "alpha beta gamma"), ("h2", "zeta eta")],
        "doc_id string, text string")
    got = sorted((r["needle_id"], r["hay_id"]) for r in
                 containment_join(strs, shay, threshold=0.9).collect())
    assert got == [("nA", "h1"), ("nB", "h2")]

    # cap 0 routes auto to the join engine
    monkeypatch.setenv("SPARK_GRAFT_CONTAINMENT_LOCAL_MAX_NEEDLES", "0")
    assert rows("auto", 0.5) == rows("join", 0.5)
    monkeypatch.delenv("SPARK_GRAFT_CONTAINMENT_LOCAL_MAX_NEEDLES")
    with pytest.raises(ValueError, match="engine"):
        containment_join(needles, hay, engine="bogus")


class TestResizeImageFeatures:
    def _media(self, spark, imgs):
        import pandas as pd

        from bid_evaluation_ext.operators.png import encode_png

        rows = [(i, bytearray(encode_png(img))) for i, img in imgs]
        return spark.createDataFrame(rows, "media_id long, payload binary")

    def test_known_nearest_neighbor(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.multimodal import (
            resize_image_features)

        # 4x2 image resized to 2x2: sx = (x*4)//2 -> {0,2}; sy = (y*2)//2
        img = np.array([[0, 10, 20, 30], [40, 50, 60, 70]], dtype=np.uint8)
        df = self._media(spark, [(0, img)])
        out = resize_image_features(df, out_w=2, out_h=2,
                                    strict=True).collect()[0]
        assert (out["width"], out["height"]) == (4, 2)
        # sampled pixels: (0,0)=0 (2,0)=20 (0,1)=40 (2,1)=60 -> mean 30
        assert out["resized_mean_luma"] == 30.0

    def test_identity_resize_matches_decode_mean(self, spark):
        import numpy as np
        import pytest as _pt

        from bid_evaluation_ext.operators.multimodal import (
            extract_image_features, resize_image_features)

        img = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 3) % 256
        df = self._media(spark, [(0, img)])
        full = extract_image_features(df, strict=True).collect()[0]
        same = resize_image_features(df, out_w=8, out_h=6,
                                     strict=True).collect()[0]
        assert same["resized_mean_luma"] == _pt.approx(full["mean_luma"])

    def test_corrupt_payload_nulls_not_raise(self, spark):
        from bid_evaluation_ext.operators.multimodal import (
            resize_image_features)

        df = spark.createDataFrame([(0, bytearray(b"not a png"))],
                                   "media_id long, payload binary")
        out = resize_image_features(df, out_w=2, out_h=2).collect()[0]
        assert out["width"] is None and out["resized_mean_luma"] is None
        import pytest as _pt
        with _pt.raises(ValueError):
            resize_image_features(df, out_w=0, out_h=2)


class TestDecimateAudioFeatures:
    def _media(self, spark, waves, rate=8000):
        import pandas as pd

        from bid_evaluation_ext.operators.wav import encode_wav

        rows = [(i, bytearray(encode_wav(w, rate=rate)))
                for i, w in waves]
        return spark.createDataFrame(rows, "media_id long, payload binary")

    def test_known_decimation(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.multimodal import (
            decimate_audio_features)

        # alternating +/-0.5 every sample, 12 samples, factor 2 keeps the
        # even indices -> all +0.5, zero crossings 0
        w = 0.5 * (1 - 2 * (np.arange(12) % 2))
        df = self._media(spark, [(0, w)])
        out = decimate_audio_features(df, factor=2,
                                      strict=True).collect()[0]
        assert out["n_in"] == 12 and out["n_out"] == 6
        assert out["out_rate"] == 4000
        assert out["zero_crossings"] == 0
        assert out["rms"] == 16383.0 / 32768.0

    def test_factor_one_matches_decode(self, spark):
        import numpy as np
        import pytest as _pt

        from bid_evaluation_ext.operators.multimodal import (
            decimate_audio_features, extract_audio_features)

        rng = np.random.RandomState(6)
        w = np.clip(rng.randn(500) * 0.2, -0.9, 0.9)
        df = self._media(spark, [(0, w)])
        full = extract_audio_features(df, strict=True).collect()[0]
        same = decimate_audio_features(df, factor=1,
                                       strict=True).collect()[0]
        assert same["rms"] == _pt.approx(full["rms"])
        assert same["zero_crossings"] == full["zero_crossings"]
        assert same["n_out"] == same["n_in"]

    def test_corrupt_and_validation(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.multimodal import (
            decimate_audio_features)

        df = spark.createDataFrame([(0, bytearray(b"junk"))],
                                   "media_id long, payload binary")
        out = decimate_audio_features(df, factor=2).collect()[0]
        assert out["rms"] is None and out["n_in"] is None
        with _pt.raises(ValueError):
            decimate_audio_features(df, factor=0)


def test_enrich_stream_static_parity(spark, tmp_path):
    """Stream-static enrichment equals the batch join, per micro-batch."""
    import time as _time

    from bid_evaluation_ext.streaming.events import enrich_stream

    schema = "event_id long, user_id long, value double"
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string")
    b1 = [(10, 1, 5.0), (11, 2, 6.0)]
    b2 = [(12, 1, 7.0), (13, 9, 8.0)]  # user 9 unknown -> null tier
    src = str(tmp_path / "enrich_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        f"{src}/batch=0")
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        f"{src}/batch=1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (enrich_stream(stream, dim, on="user_id")
         .writeStream.format("memory").queryName("enrich_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["event_id"], r["tier"])
           for r in spark.sql("SELECT * FROM enrich_smoke").collect()}
    batch = {(r["event_id"], r["tier"]) for r in enrich_stream(
        spark.createDataFrame(b1 + b2, schema), dim,
        on="user_id").collect()}
    assert got == batch
    assert (13, None) in got  # left join keeps unmatched stream rows
    import pytest as _pt
    with _pt.raises(ValueError):
        enrich_stream(stream, dim, on="user_id", how="full")


def test_salted_join_matches_plain_join(spark):
    """salted_join ≡ plain join as a row MULTISET, for inner and left,
    under hot keys, duplicate build-side keys, unmatched keys on both
    sides, and null keys."""
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.skew import salted_join

    big_rows = ([(0, i) for i in range(200)]         # hot key
                + [(k, k * 10) for k in range(1, 6)]  # normal keys
                + [(99, 1), (None, 7)])               # unmatched + null
    big = spark.createDataFrame(big_rows, "k int, payload int")
    small = spark.createDataFrame(
        [(0, "hot"), (1, "a"), (2, "b"), (2, "b2"), (7, "orphan"),
         (None, "nullkey")],
        "k int, tag string")

    from collections import Counter

    for how in ("inner", "left"):
        want = Counter(map(tuple, big.join(small, ["k"], how).collect()))
        got = Counter(map(tuple, salted_join(
            big, small, ["k"], salt_buckets=8, how=how).collect()))
        assert got == want, how

    import pytest as _pt
    with _pt.raises(ValueError):
        salted_join(big, small, ["k"], salt_buckets=0)
    with _pt.raises(ValueError):
        salted_join(big, small, ["k"], how="full")


def test_coleman_liau_readability(spark):
    from bid_evaluation_ext.operators.text import (coleman_liau,
                                                     sentence_count)
    from pyspark.sql import functions as F

    rows = [(1, "The cat sat. The dog ran! Did it?"),
            (2, "word"),
            (3, ""),
            (4, None)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in
           df.select("id", sentence_count(F.col("text")).alias("s"),
                     coleman_liau("text").alias("cli")).collect()}
    assert out[1]["s"] == 3
    # hand check: 8 words, 23 letters, 3 sentences
    L, S = 23 / 8 * 100, 3 / 8 * 100
    import pytest as _p
    assert out[1]["cli"] == _p.approx(0.0588 * L - 0.296 * S - 15.8,
                                      abs=1e-6)
    assert out[2]["s"] == 1 and out[2]["cli"] is not None
    assert out[3]["s"] == 0 and out[3]["cli"] is None
    # round-7 ADVICE fix: NULL text -> null count, never -1
    assert out[4]["s"] is None and out[4]["cli"] is None
