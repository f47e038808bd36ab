"""Config-driven training-data prep pipeline (dict / YAML / JSON).

The scoring engine is config-drivable (``Evaluator.from_yaml`` — reference
``bid_evaluation/evaluator.py:78-112``); this applies the same declarative
style to the beyond-reference training-data suite, so a whole prep run is
one reviewable artifact:

.. code-block:: yaml

    steps:
      - op: exact_dedup
      - op: quality_filter
        min_score: 40
      - op: lm_filter            # drop the worst decile by unigram-LM NLL
        quantile: 0.9
      - op: decontaminate
        eval_table: eval_docs    # resolved from the `tables` mapping
        threshold: 0.3
      - op: hash_sample
        fraction: 0.5
        seed: demo
      - op: mixture_sample
        group_col: lang
        weights: {en: 4, de: 2, es: 2, fr: 1, zh: 1}
      - op: shuffle
        seed: epoch0

``build_prep_pipeline`` folds the steps left-to-right over a DataFrame —
every step stays lazy/declarative (the same operators the oracle queries
check), so Catalyst still sees one composed plan per action, and unknown
ops / malformed params fail fast at build time, not mid-job.
"""

from __future__ import annotations

import inspect
import json
from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import DataFrame, Window, functions as F

from ..operators.pipeline import (
    chunk_documents, decontaminate, hash_sample, lm_quality_score,
    mixture_sample, pack_sequences, shuffle_rows,
)
from ..operators.text import fingerprint_md5, quality_score


def _step_exact_dedup(df: DataFrame, tables, id_col: str, text_col: str,
                      **kw) -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint."""
    w = Window.partitionBy("_prep_fp")
    return (df.withColumn("_prep_fp", fingerprint_md5(text_col))
            .withColumn("_prep_keep", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("_prep_keep"))
            .drop("_prep_fp", "_prep_keep"))


def _step_quality_filter(df: DataFrame, tables, id_col: str, text_col: str,
                         min_score: float = 40.0, **kw) -> DataFrame:
    return df.filter(quality_score(text_col) >= float(min_score))


def _step_lm_filter(df: DataFrame, tables, id_col: str, text_col: str,
                    quantile: float = 0.9, add_k: float = 0.5,
                    **kw) -> DataFrame:
    """Drop docs above the corpus NLL quantile (empty docs are kept)."""
    if not 0.0 < quantile <= 1.0:
        raise ValueError(f"quantile must be in (0, 1], got {quantile}")
    lm = lm_quality_score(df, text_col=text_col, id_col=id_col, add_k=add_k)
    cut = lm.agg(F.expr(f"percentile(lm_nll, {float(quantile)})")).first()[0]
    keep = lm.filter(F.col("lm_nll").isNull()
                     | (F.col("lm_nll") <= F.lit(cut))).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


def _step_bigram_lm_filter(df: DataFrame, tables, id_col: str, text_col: str,
                           quantile: float = 0.9, add_k: float = 0.5,
                           **kw) -> DataFrame:
    """Drop docs above the corpus bigram-NLL quantile (short docs kept) —
    catches word salad the unigram filter scores as normal."""
    from ..operators.pipeline import bigram_lm_quality_score
    if not 0.0 < quantile <= 1.0:
        raise ValueError(f"quantile must be in (0, 1], got {quantile}")
    lm = bigram_lm_quality_score(df, text_col=text_col, id_col=id_col,
                                 add_k=add_k)
    cut = lm.agg(F.expr(f"percentile(lm2_nll, {float(quantile)})")).first()[0]
    keep = lm.filter(F.col("lm2_nll").isNull()
                     | (F.col("lm2_nll") <= F.lit(cut))).select(id_col)
    return df.join(keep, on=id_col, how="left_semi")


def _step_decontaminate(df: DataFrame, tables, id_col: str, text_col: str,
                        eval_table: str = "eval", threshold: float = 0.5,
                        k: int = 3, method: str = "exact",
                        **kw) -> DataFrame:
    if eval_table not in tables:
        raise KeyError(f"decontaminate needs tables[{eval_table!r}]")
    if method == "bloom":
        # identical results; the broadcast Bloom pre-filter shrinks the
        # candidate shuffle when train >> eval (the usual shape)
        from ..operators.pipeline import decontaminate_bloom
        bad = decontaminate_bloom(df, tables[eval_table], threshold=threshold,
                                  k=k, id_col=id_col, text_col=text_col)
    elif method == "exact":
        bad = decontaminate(df, tables[eval_table], threshold=threshold, k=k,
                            id_col=id_col, text_col=text_col)
    else:
        raise ValueError(
            f"decontaminate method must be 'exact' or 'bloom', got {method!r}")
    return df.join(bad.select(F.col("train_id").alias(id_col)).distinct(),
                   on=id_col, how="left_anti")


def _step_hash_sample(df: DataFrame, tables, id_col: str, text_col: str,
                      fraction: float = 0.5, seed: str = "", **kw) -> DataFrame:
    return hash_sample(df, float(fraction), key_col=id_col, seed=str(seed))


def _step_mixture_sample(df: DataFrame, tables, id_col: str, text_col: str,
                         weights: Optional[Dict[str, float]] = None,
                         group_col: str = "lang", total: Optional[int] = None,
                         seed: str = "", **kw) -> DataFrame:
    return mixture_sample(df, weights or {}, group_col=group_col,
                          key_col=id_col, total=total, seed=str(seed))


def _step_chunk(df: DataFrame, tables, id_col: str, text_col: str,
                chunk_tokens: int = 64, overlap: int = 16, **kw) -> DataFrame:
    return chunk_documents(df, chunk_tokens=int(chunk_tokens),
                           overlap=int(overlap), id_col=id_col,
                           text_col=text_col)


def _step_pack(df: DataFrame, tables, id_col: str, text_col: str,
               max_tokens: int = 512, shard_col: str = "source",
               **kw) -> DataFrame:
    return pack_sequences(df, max_tokens=int(max_tokens), shard_col=shard_col,
                          id_col=id_col, text_col=text_col)


def _step_shuffle(df: DataFrame, tables, id_col: str, text_col: str,
                  seed: str = "", **kw) -> DataFrame:
    return shuffle_rows(df, key_col=id_col, seed=str(seed))


def _step_gopher_filter(df: DataFrame, tables, id_col: str, text_col: str,
                        min_words: int = 50, max_words: int = 100_000,
                        min_stopword_hits: int = 2, **kw) -> DataFrame:
    """Keep only documents passing the Gopher heuristic gate."""
    from ..operators.quality import gopher_quality_flags
    flagged = gopher_quality_flags(df, text_col=text_col,
                                   min_words=int(min_words),
                                   max_words=int(max_words),
                                   min_stopword_hits=int(min_stopword_hits))
    return flagged.filter(F.col("gopher_pass")).select(*df.columns)


def _step_repetition_filter(df: DataFrame, tables, id_col: str, text_col: str,
                            n: int = 2, max_top_fraction: float = 0.2,
                            max_dup_fraction: float = 0.6, **kw) -> DataFrame:
    """Drop documents dominated by a repeated n-gram (Gopher repetition)."""
    from ..operators.quality import ngram_repetition_stats
    n = int(n)
    stats = ngram_repetition_stats(df, ns=(n,), id_col=id_col,
                                   text_col=text_col)
    ok = stats.filter(
        (F.col(f"top{n}_fraction") <= float(max_top_fraction))
        & (F.col(f"dup{n}_fraction") <= float(max_dup_fraction))
    ).select(id_col)
    return df.join(ok, on=id_col, how="left_semi")


def _step_line_dedup(df: DataFrame, tables, id_col: str, text_col: str,
                     sep: str = "\n", max_occurrences: int = 1,
                     policy: str = "keep_first",
                     drop_empty: bool = True, **kw) -> DataFrame:
    """Remove corpus-wide repeated lines inside each document (C4)."""
    from ..operators.quality import dedup_lines
    cleaned = dedup_lines(df, id_col=id_col, text_col=text_col, sep=sep,
                          max_occurrences=int(max_occurrences), policy=policy)
    if drop_empty:
        cleaned = cleaned.filter(F.col(text_col) != "")
    others = [c for c in df.columns if c != text_col]
    out = (df.select(*others)
             .join(cleaned.select(id_col, text_col), on=id_col, how="inner"))
    return out.select(*df.columns)


def _step_redact_pii(df: DataFrame, tables, id_col: str, text_col: str,
                     **kw) -> DataFrame:
    """Replace structured PII (emails, IPs, SSNs, phones) with placeholders."""
    from ..operators.pii import redact_pii
    return redact_pii(df, text_col=text_col, with_counts=False)


STEP_REGISTRY: Dict[str, Callable[..., DataFrame]] = {
    "exact_dedup": _step_exact_dedup,
    "quality_filter": _step_quality_filter,
    "lm_filter": _step_lm_filter,
    "bigram_lm_filter": _step_bigram_lm_filter,
    "decontaminate": _step_decontaminate,
    "hash_sample": _step_hash_sample,
    "mixture_sample": _step_mixture_sample,
    "chunk": _step_chunk,
    "pack": _step_pack,
    "shuffle": _step_shuffle,
    "gopher_filter": _step_gopher_filter,
    "repetition_filter": _step_repetition_filter,
    "line_dedup": _step_line_dedup,
    "redact_pii": _step_redact_pii,
}


def build_prep_pipeline(config: Dict[str, Any],
                        tables: Optional[Dict[str, DataFrame]] = None
                        ) -> Callable[[DataFrame], DataFrame]:
    """Compile a prep config into ``DataFrame -> DataFrame``.

    ``config`` holds ``steps`` (list of ``{op, **params}``) and optional
    ``id_col`` / ``text_col`` defaults; ``tables`` resolves by-name frame
    references (e.g. the decontamination eval corpus). Unknown ops and
    unknown params raise at build time.
    """
    steps: List[Dict[str, Any]] = list(config.get("steps") or [])
    if not steps:
        raise ValueError("config has no steps")
    id_col = config.get("id_col", "doc_id")
    text_col = config.get("text_col", "text")
    tables = tables or {}

    compiled = []
    for i, raw in enumerate(steps):
        spec = dict(raw)
        op = spec.pop("op", None)
        if op not in STEP_REGISTRY:
            raise ValueError(
                f"step {i}: unknown op {op!r} (have {sorted(STEP_REGISTRY)})")
        fn = STEP_REGISTRY[op]
        allowed = {p for p in inspect.signature(fn).parameters
                   if p not in ("df", "tables", "id_col", "text_col", "kw")}
        unknown = set(spec) - allowed
        if unknown:
            raise ValueError(f"step {i} ({op}): unknown params {sorted(unknown)}")
        compiled.append((op, fn, spec))

    def run(df: DataFrame) -> DataFrame:
        for _, fn, spec in compiled:
            df = fn(df, tables, id_col, text_col, **spec)
        return df

    run.steps = [op for op, _, _ in compiled]  # type: ignore[attr-defined]
    return run


def prep_from_yaml(path: str, tables: Optional[Dict[str, DataFrame]] = None):
    """Compile a prep pipeline from a YAML file (same layout as the dict)."""
    import yaml

    with open(path) as f:
        return build_prep_pipeline(yaml.safe_load(f) or {}, tables)


def prep_from_json(path: str, tables: Optional[Dict[str, DataFrame]] = None):
    """Compile a prep pipeline from a JSON file (same layout as the dict)."""
    with open(path) as f:
        return build_prep_pipeline(json.load(f) or {}, tables)
