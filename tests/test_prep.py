"""Config-driven prep pipeline (plans/prep.py): config ≡ fluent chain."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.pipeline import (
    hash_sample, lm_quality_score, mixture_sample, shuffle_rows,
)
from bid_evaluation_ext.plans.prep import (
    build_prep_pipeline, prep_from_json, prep_from_yaml,
)

CONFIG = {
    "steps": [
        {"op": "exact_dedup"},
        {"op": "hash_sample", "fraction": 0.6, "seed": "cfg"},
        {"op": "mixture_sample", "group_col": "lang",
         "weights": {"en": 2, "de": 1, "es": 1, "fr": 1, "zh": 1},
         "seed": "cfg"},
        {"op": "shuffle", "seed": "cfg"},
    ],
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def _fluent_twin(docs):
    from pyspark.sql import Window

    from bid_evaluation_ext.operators.text import fingerprint_md5

    w = Window.partitionBy("_fp")
    d = (docs.withColumn("_fp", fingerprint_md5("text"))
         .withColumn("_keep", F.min("doc_id").over(w))
         .filter(F.col("doc_id") == F.col("_keep")).drop("_fp", "_keep"))
    d = hash_sample(d, 0.6, key_col="doc_id", seed="cfg")
    d = mixture_sample(d, {"en": 2, "de": 1, "es": 1, "fr": 1, "zh": 1},
                       group_col="lang", seed="cfg")
    return shuffle_rows(d, key_col="doc_id", seed="cfg")


def test_config_pipeline_equals_fluent_chain(docs):
    run = build_prep_pipeline(CONFIG)
    assert run.steps == ["exact_dedup", "hash_sample", "mixture_sample",
                         "shuffle"]
    got = sorted((r["doc_id"], r["shuffle_pos"]) for r in run(docs).collect())
    want = sorted((r["doc_id"], r["shuffle_pos"])
                  for r in _fluent_twin(docs).collect())
    assert got == want and got


def test_lm_and_decontaminate_steps(docs):
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    run = build_prep_pipeline(
        {"steps": [{"op": "lm_filter", "quantile": 0.8},
                   {"op": "decontaminate", "eval_table": "ev",
                    "threshold": 0.3}]},
        tables={"ev": ev},
    )
    out = run(docs.filter(F.col("doc_id") % 10 != 0))
    n_in = docs.filter(F.col("doc_id") % 10 != 0).count()
    n_out = out.count()
    assert 0 < n_out < n_in  # both filters actually cut
    # the lm_filter twin: same quantile cut applied by hand
    lm = lm_quality_score(docs.filter(F.col("doc_id") % 10 != 0))
    cut = lm.agg(F.expr("percentile(lm_nll, 0.8)")).first()[0]
    assert lm.filter(F.col("lm_nll") > cut).join(
        out, on="doc_id", how="inner").count() == 0


def test_bigram_lm_filter_step(docs):
    run = build_prep_pipeline(
        {"steps": [{"op": "bigram_lm_filter", "quantile": 0.8}]})
    out = run(docs)
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out < n_in
    # the cut is the documented quantile of the bigram NLL
    from bid_evaluation_ext.operators.pipeline import bigram_lm_quality_score
    lm = bigram_lm_quality_score(docs)
    cut = lm.agg(F.expr("percentile(lm2_nll, 0.8)")).first()[0]
    assert lm.filter(F.col("lm2_nll") > cut).join(
        out, on="doc_id", how="inner").count() == 0


def test_decontaminate_step_bloom_method_identical(docs):
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    base = build_prep_pipeline(
        {"steps": [{"op": "decontaminate", "eval_table": "ev",
                    "threshold": 0.3}]}, tables={"ev": ev})
    fast = build_prep_pipeline(
        {"steps": [{"op": "decontaminate", "eval_table": "ev",
                    "threshold": 0.3, "method": "bloom"}]}, tables={"ev": ev})
    a = sorted(r["doc_id"] for r in base(train).collect())
    b = sorted(r["doc_id"] for r in fast(train).collect())
    assert a == b and a
    with pytest.raises(ValueError, match="method"):
        build_prep_pipeline(
            {"steps": [{"op": "decontaminate", "eval_table": "ev",
                        "method": "nope"}]}, tables={"ev": ev})(train)


def test_build_time_validation(docs):
    with pytest.raises(ValueError, match="no steps"):
        build_prep_pipeline({})
    with pytest.raises(ValueError, match="unknown op"):
        build_prep_pipeline({"steps": [{"op": "nope"}]})
    with pytest.raises(ValueError, match="unknown params"):
        build_prep_pipeline({"steps": [{"op": "hash_sample", "frac": 0.5}]})
    with pytest.raises(KeyError, match="tables"):
        build_prep_pipeline({"steps": [{"op": "decontaminate"}]})(docs)


def test_yaml_and_json_loaders(docs, tmp_path):
    import json

    import yaml

    y = tmp_path / "prep.yaml"
    y.write_text(yaml.safe_dump(CONFIG))
    j = tmp_path / "prep.json"
    j.write_text(json.dumps(CONFIG))
    small = docs.limit(120)
    a = sorted(r["doc_id"] for r in prep_from_yaml(str(y))(small).collect())
    b = sorted(r["doc_id"] for r in prep_from_json(str(j))(small).collect())
    assert a == b and a


# --- quality / pii steps (added with the Gopher/C4 + PII operators) ---

def test_gopher_filter_step(docs):
    from bid_evaluation_ext.operators.quality import gopher_quality_flags

    run = build_prep_pipeline({"steps": [
        {"op": "gopher_filter", "min_words": 20, "min_stopword_hits": 1}]})
    got = run(docs)
    want = (gopher_quality_flags(docs, min_words=20, min_stopword_hits=1)
            .filter("gopher_pass"))
    assert got.columns == docs.columns
    assert got.count() == want.count() > 0


def test_repetition_filter_step(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),
         (2, "a perfectly ordinary sentence with varied words")],
        "doc_id long, text string")
    run = build_prep_pipeline({"steps": [
        {"op": "repetition_filter", "n": 1, "max_top_fraction": 0.5}]})
    assert [r["doc_id"] for r in run(df).collect()] == [2]


def test_line_dedup_step(spark):
    df = spark.createDataFrame(
        [(1, "keep me\nshared line", "en"),
         (2, "shared line", "en"),
         (3, "shared line", "de")],
        "doc_id long, text string, lang string")
    run = build_prep_pipeline({"steps": [{"op": "line_dedup"}]})
    got = {r["doc_id"]: r for r in run(df).collect()}
    # doc 1 keeps both lines (first occurrence of the shared line);
    # docs 2/3 lose their only line and are dropped entirely
    assert set(got) == {1}
    assert got[1]["text"] == "keep me\nshared line"
    assert got[1]["lang"] == "en"  # payload columns survive the rebuild


def test_redact_pii_step(spark):
    df = spark.createDataFrame(
        [(1, "reach me at a@b.io or 10.0.0.1")], "doc_id long, text string")
    run = build_prep_pipeline({"steps": [{"op": "redact_pii"}]})
    assert run(df).first()["text"] == "reach me at <EMAIL> or <IP>"
