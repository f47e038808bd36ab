"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding near-duplicates.

Beyond-reference operators (BASELINE.json north star). Scale design notes —
these run over the full corpus, so every step is chosen for 100 TB behavior:

- **Exact dedup** shuffles only ``(hash, id)`` pairs — a 16-byte-key groupBy
  with map-side partial aggregation, never the document bodies.
- **MinHash-LSH** is the shingle→signature→band→bucket-join pattern:
  shingle hashes are built map-side from once-hashed tokens (JVM
  expressions), the num_perm-way min-fold runs as an Arrow-vectorized numpy
  kernel, candidate generation shuffles one ``(band_hash, id)`` row per
  band per doc, and the self-join happens per bucket — total work
  O(sum bucket²) instead of O(n²). Verification re-checks exact Jaccard on
  the candidate pairs only; ``near_duplicate_clusters`` then groups verified
  pairs into connected components for canonical-keep dedup.
- **SimHash** packs a 64-bit signature map-side; near-dup candidates block on
  16-bit chunks (any hamming-distance ≤ 3 pair shares at least one of 4
  chunks by pigeonhole).
- **Embedding near-dup** blocks on random-hyperplane signs (cosine LSH) and
  verifies exact cosine within buckets.

All candidate joins key on small fixed-width values; skew in a pathological
bucket is handled by AQE skew-join (enabled in the session factory).
"""

from __future__ import annotations

import math
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .cache import (release, release_all, spread_scan as _spread_scan,  # noqa: F401 — re-exported; registry shared across operator modules
                    track_cached as _track_cached)
from .text import fingerprint, hashed_word_shingles, word_shingles

from bid_evaluation_ext.dispatch import local_cap

# fixed, public-knowledge mixing constants for the permutation family
_MERSENNE_PRIME = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 42) -> List[tuple]:
    """Deterministic (a, b) pairs for the universal-hash permutation family
    h_i(x) = (a_i * x + b_i) mod p — standard MinHash construction."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE_PRIME), rnd.randrange(0, _MERSENNE_PRIME))
        for _ in range(num_perm)
    ]


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Group documents by normalized-text fingerprint.

    Returns ``(fp, n_dups, keep_id)`` — one row per distinct content, with the
    smallest id as the canonical survivor. Shuffles only (hash, id).
    """
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one document per distinct normalized text (min id wins)."""
    keep = exact_duplicate_groups(df, id_col, text_col).select("keep_id")
    return df.join(keep, df[id_col] == keep["keep_id"], "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def with_minhash_signature(df: DataFrame, text_col: str = "text",
                           num_perm: int = 64, shingle_k: int = 3,
                           seed: int = 42) -> DataFrame:
    """Append ``_shingles`` (hashed word k-shingles) and ``_minhash``
    (array of ``num_perm`` signature values) — all JVM-side expressions.

    Shingles are built arithmetically from once-hashed tokens
    (:func:`~bid_evaluation_ext.operators.text.hashed_word_shingles`) —
    no shingle strings are ever materialized, which is ~8× cheaper than the
    concat-then-hash form (measured at sf0.1). Shingle hashes are folded into
    [0, 2^31) so a_i*x + b_i stays in int64.
    """
    params = _perm_params(num_perm, seed)
    # guide §2.5: a single small parquet file scans as ONE partition,
    # serializing the shingle projection AND the signature kernel below
    # (r12 opt; no-op at scale or on already-parallel inputs)
    df = _spread_scan(df)
    df = df.withColumn(
        "_shingles",
        hashed_word_shingles(F.col(text_col), shingle_k, modulus=_MERSENNE_PRIME),
    )
    # The num_perm-way running-minimum over the shingle hashes runs as an
    # Arrow-vectorized numpy kernel: one (num_perm × n_shingles) universal-hash
    # matrix per doc, min along shingles. A pure-expression fold (aggregate +
    # zip_with over a num_perm-slot accumulator) is interpreted — higher-order
    # functions sit outside whole-stage codegen — and measured ~2× slower even
    # warm. Map-only either way; a_i·x + b_i stays within int64 because both
    # factors are < 2^31.
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    sentinel = [_MERSENNE_PRIME] * num_perm

    @F.pandas_udf("array<long>")
    def _sig(shingles: pd.Series) -> pd.Series:
        # Docs are batched into ~4k-shingle chunks: one flat
        # (num_perm × chunk) hash matrix with per-doc mins via
        # np.minimum.reduceat — the same (A·x + B) % P then min as the
        # old per-doc loop (bit-identical int64 ops over identical
        # sets), but short docs share a matrix pass instead of paying
        # per-doc Python + sub-cache-line matrices. The chunk is kept
        # CACHE-sized (64×4k×8B ≈ 2 MB, in-place ops): a first draft
        # with ~200k-shingle chunks was several times SLOWER than the
        # per-doc loop — three out-of-cache temporaries per chunk turn
        # an L2-resident pipeline into a memory-bandwidth fight across
        # 32 workers.
        n = len(shingles)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in shingles),
            dtype=np.int64, count=n)
        out: list = [None] * n
        chunk_ids: list = []
        chunk_arrs: list = []
        chunk_total = 0

        def flush():
            nonlocal chunk_total
            if not chunk_ids:
                return
            flat = np.concatenate(chunk_arrs)
            seg = np.concatenate(
                ([0], np.cumsum([len(a) for a in chunk_arrs])))[:-1]
            h = A * flat[None, :]
            h += B
            h %= _MERSENNE_PRIME
            mins = np.minimum.reduceat(h, seg, axis=1)
            for j, i in enumerate(chunk_ids):
                out[i] = mins[:, j].tolist()
            chunk_ids.clear()
            chunk_arrs.clear()
            chunk_total = 0

        for i, arr in enumerate(shingles):
            if lens[i] == 0:
                out[i] = sentinel
                continue
            chunk_ids.append(i)
            chunk_arrs.append(np.asarray(arr, dtype=np.int64))
            chunk_total += lens[i]
            if chunk_total >= 4096:
                flush()
        flush()
        return pd.Series(out)

    return df.withColumn("_minhash", _sig(F.col("_shingles")))


def minhash_band_structs(num_perm: int, bands: int,
                         sig_col: str = "_minhash") -> Column:
    """Array of ``(band, band_hash)`` structs over a signature column.

    Band hash = multi-arg ``xxhash64`` over the band's signature slots
    directly — no string rendering/concat per band. The ONE definition of
    band identity, shared by the batch LSH path and the streaming
    near-duplicate operator (they must stay bit-identical to be twins).
    """
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(sig_col)[b * rows_per_band + r]
                  for r in range(rows_per_band)],
                F.lit(b),
            ).alias("bh"),
        )
        for b in range(bands)
    ])


def _minhash_sig_and_candidates(df: DataFrame, id_col: str, text_col: str,
                                num_perm: int, bands: int, shingle_k: int,
                                seed: int):
    """Shared pipeline: persisted ``(_id, _shingles, _minhash)`` frame +
    candidate pairs. The signature frame is computed ONCE and reused by both
    band generation and (in :func:`minhash_near_duplicates`) Jaccard verify."""
    # docs with no shingles (shorter than k tokens) all share the sentinel
    # signature — banding them would pair every short doc with every other
    # (quadratic candidate blow-up at scale); they carry no similarity
    # evidence, so drop them before banding
    sig = (
        with_minhash_signature(df, text_col, num_perm, shingle_k, seed)
        .filter(F.size("_shingles") > 0)
        .select(F.col(id_col).alias("_id"), "_shingles", "_minhash")
        # cache: read by band generation (twice via the self-join) and by the
        # verify join — without it the shingle→signature pipeline re-runs
        .persist()
    )
    band_structs = minhash_band_structs(num_perm, bands)
    banded = (
        sig.select("_id", F.explode(band_structs).alias("bs"))
        .select("_id", F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bh") == F.col("r.bh"))
                  & (F.col("l._id") < F.col("r._id")))
        .select(F.col("l._id").alias("a_id"), F.col("r._id").alias("b_id"))
        .distinct()
    )
    return sig, pairs


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_perm: int = 64,
                           bands: int = 16, shingle_k: int = 3,
                           seed: int = 42) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Signature is split into ``bands`` bands of ``num_perm // bands`` rows;
    documents sharing any band hash become a candidate pair. Returns distinct
    ``(a_id, b_id)`` with ``a_id < b_id``.
    """
    sig, pairs = _minhash_sig_and_candidates(df, id_col, text_col, num_perm,
                                             bands, shingle_k, seed)
    return _track_cached(pairs, [sig])


def minhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", threshold: float = 0.7,
                            num_perm: int = 64, bands: int = 16,
                            shingle_k: int = 3, seed: int = 42) -> DataFrame:
    """LSH candidates verified with EXACT shingle-set Jaccard ≥ threshold.

    The verify join reuses the persisted ``_shingles`` arrays from signature
    computation (no re-tokenization) and ships only (id, shingle-hash-array)
    for candidate ids — the candidate set is tiny relative to n². Jaccard is
    ``|A ∩ B| / |A ∪ B|`` with native array functions over int64 hashes
    (set math over fixed-width longs, not shingle strings).
    """
    sig, candidates = _minhash_sig_and_candidates(df, id_col, text_col,
                                                  num_perm, bands, shingle_k,
                                                  seed)
    sh = sig.select(F.col("_id").alias("_sid"), F.col("_shingles").alias("_sh"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    joined = (
        candidates.join(a, F.col("a_id") == F.col("sa._sid"))
        .join(b, F.col("b_id") == F.col("sb._sid"))
        .withColumn(
            "jaccard",
            F.try_divide(
                F.size(F.array_intersect("sa._sh", "sb._sh")),
                F.size(F.array_union("sa._sh", "sb._sh")),
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
    return _track_cached(joined, [sig])


# ---------------------------------------------------------------------------
# Portable (md5-derived) MinHash banding — the streaming near-dup substrate
# ---------------------------------------------------------------------------

_MD5_HEX_DIGITS = 15  # 60-bit ints survive exact in doubles AND DuckDB BIGINT


def _md5_u60(key: Column) -> Column:
    """The house portable-hash device (winnowing / DSIR / span dedup):
    first 15 hex digits of md5 as a 60-bit long — DuckDB derives the
    identical value with ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(key.cast("binary")), 1,
                              _MD5_HEX_DIGITS), 16, 10).cast("long")


def minhash_band_table(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_perm: int = 16, bands: int = 4,
                       seed: str = "mh") -> DataFrame:
    """PORTABLE MinHash LSH band keys → ``(id, band, key)`` rows, one per
    non-empty-shingle document × band.

    Unlike the xxhash64 production banding in
    :func:`_minhash_sig_and_candidates` (whose output is verified with
    exact Jaccard because the hash cannot cross engines), every value
    here is md5-derived, so a DuckDB oracle replays the banding
    bit-exactly — the substrate for :func:`neardup_mark_ordered` and the
    streaming near-dup filter, where the OUTPUT IS the banding decision
    and must be value-oracled, not re-verified.

    Per permutation ``i`` the signature is ``min`` over distinct word
    ``k``-shingles of ``md5_u60(f"{seed}:{i}:" + shingle)``; band ``b``'s
    key is the md5 hex of its ``num_perm/bands`` minima joined with
    ``"_"``. Documents with no shingles yield no rows.

    Execution shape (r12 opt, guide §4.1/§2.3): shingles are EXPLODED
    and the ``num_perm`` hashes computed as plain projection columns,
    then folded by a partially-aggregated ``groupBy(id).min``. A
    previous map-only form computed the same hashes inside
    ``transform``/``aggregate``/``zip_with`` lambdas — higher-order
    functions are evaluated INTERPRETED (no whole-stage codegen inside
    the lambda), which made 16 md5s per shingle ~4× slower than the
    identical codegen'd projection. The exchange this buys is one
    ``num_perm``-longs row per document per partition (partial agg
    collapses a doc's shingles map-side), i.e. negligible at any scale,
    and the hash values/band keys are bit-identical — the DuckDB oracle
    replays them unchanged.
    """
    if num_perm % bands != 0:
        raise ValueError(f"bands must divide num_perm, got {num_perm}/{bands}")
    rows = num_perm // bands
    sh = word_shingles(F.col(text_col), k)
    # guide §2.5: spread a single-split scan so the hash projection
    # parallelizes (no-op at scale)
    src = _spread_scan(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
    exploded = src.select("_id", F.explode(sh).alias("_s"))
    hashed = exploded.select("_id", *[
        _md5_u60(F.concat(F.lit(f"{seed}:{i}:"), F.col("_s"))).alias(f"_h{i}")
        for i in range(num_perm)])
    mins = hashed.groupBy("_id").agg(*[
        F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_perm)])
    keys = F.array(*[
        F.md5(F.concat_ws(
            "_", *[F.col(f"_m{b * rows + j}").cast("string")
                   for j in range(rows)]).cast("binary"))
        for b in range(bands)])
    return (mins.select("_id", F.posexplode(keys).alias("band", "key"))
            .select(F.col("_id").alias(id_col), "band", "key"))


def neardup_mark_ordered(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 3,
                         num_perm: int = 16, bands: int = 4,
                         seed: str = "mh") -> DataFrame:
    """Mark each document a near-duplicate iff it shares a MinHash band
    with any LOWER-id document → ``(id, is_near_dup, dup_of)`` where
    ``dup_of`` is the smallest such witness id (null when none) — the
    batch twin of the streaming near-dup filter, with ``id`` order
    standing in for arrival order.

    Shuffles: one groupBy per band bucket (min id), one join back on the
    bucket, one per-doc agg — all keyed on the band key or the id; no
    pair materialization at all (the bucket MIN is the only witness
    needed, so candidate volume never appears). The band table is
    persisted (r12 opt): two consumers (bucket-min groupBy + join back)
    otherwise re-run the whole shingle/md5 signature pipeline — the
    dominant cost — twice per query. MEMORY_AND_DISK (4 small rows per
    doc), released via ``operators.cache``.
    """
    bt = minhash_band_table(df, id_col, text_col, k, num_perm, bands,
                            seed).persist()
    mins = bt.groupBy("band", "key").agg(F.min(id_col).alias("_m"))
    flags = (bt.join(mins, ["band", "key"])
             .groupBy(id_col)
             .agg(F.min(F.when(F.col("_m") < F.col(id_col), F.col("_m")))
                  .alias("dup_of")))
    return _track_cached(
        df.select(id_col).distinct()
        .join(flags, id_col, "left")
        .select(id_col,
                F.col("dup_of").isNotNull().alias("is_near_dup"),
                "dup_of"), [bt])


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise, for given candidate pairs)
# ---------------------------------------------------------------------------

def ngram_jaccard(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  a_col: str = "a_id", b_col: str = "b_id",
                  engine: str = "auto") -> DataFrame:
    """Exact word k-gram Jaccard for explicit candidate pairs.

    ``pairs`` holds (a_id, b_id); document shingle sets are joined in and
    compared with ``array_intersect``/``array_union`` — JVM-side set math.

    The docs side is pruned down to ids that actually appear in a
    pair BEFORE tokenizing (r12 opt, guide §3.2/§3.4): candidates are
    tiny relative to the corpus in every dedup-verify use, so shingling
    every document to verify a handful of pairs paid the whole corpus's
    tokenize cost twice per query for nothing. Below
    ``SPARK_GRAFT_JACCARD_PAIRS_LOCAL_MAX`` collected pair rows
    (default 100 — the persisted pair table is read back once, bounded)
    the prune is an ``isin`` literal predicate on the scan itself —
    predicate pushdown instead of a distinct exchange + semi-join,
    which were pure fixed latency when candidates are a handful
    (measured: −1 s warm on the 19-pair incremental-minhash query).
    The cap is deliberately LOW: the pruned-scan subtree is duplicated
    under both verify join sides, so a big literal IN list pays its
    planning/codegen cost twice and loses to the semi-join from ~100
    pairs up (measured sweep: tie at 100, 2.6× worse by 2 000). Above
    the cap the distinct + left-semi join prune runs instead — same
    rows, spillable shape. ``pairs`` is persisted here — the id prune plus the two
    verify joins read it multiple times, and candidate generators
    (simhash/minhash banding) are far too expensive to re-run per read
    (MEMORY_AND_DISK, so an unusually large candidate list spills
    rather than OOMs; released via ``operators.cache``).
    """
    import os

    if engine not in ("auto", "join"):
        raise ValueError(f"engine must be 'auto' or 'join', got {engine!r}")
    pairs = pairs.persist()
    cap = local_cap("SPARK_GRAFT_JACCARD_PAIRS_LOCAL_MAX", 100)
    head = pairs.select(a_col, b_col).limit(cap + 1).collect()
    if len(head) <= cap:
        id_set = sorted({r[0] for r in head if r[0] is not None}
                        | {r[1] for r in head if r[1] is not None})
        # empty candidate set: no pair can verify (inner joins below);
        # isin([]) is not a valid expression, so short-circuit
        docs_pruned = (docs.filter(F.col(id_col).isin(id_set))
                       if id_set else docs.filter(F.lit(False)))
    else:
        ids = (pairs.select(F.col(a_col).alias("_sid"))
               .unionByName(pairs.select(F.col(b_col).alias("_sid")))
               .distinct())
        docs_pruned = docs.join(ids, docs[id_col] == ids["_sid"],
                                "left_semi")
    sh = docs_pruned.select(
        F.col(id_col).alias("_sid"),
        word_shingles(F.col(text_col), k).alias("_sh"),
    )
    if len(head) > cap and engine != "join":
        # r12 opt (guide §4.2): a LARGE candidate set pays one
        # array_intersect + array_union per pair through two hash
        # joins — O(pairs × shingles) interpreted set math. When the
        # pair-participating docs' shingle sets fit a task closure
        # (≤ SPARK_GRAFT_JACCARD_DOCS_LOCAL_MAX docs, default 8192, and
        # ≤ ~64 MB of shingle chars), collect them ONCE and score the
        # (still distributed) pair stream in an Arrow kernel with
        # C-speed set intersection — |A∩B| and |A|+|B|−|A∩B| are the
        # same exact integers, and Python's int/int division is the
        # identical IEEE double as try_divide's cast. Inner-join
        # semantics replicated: null or unknown ids drop the pair;
        # duplicate doc ids fall back (join multiplicity is the join's).
        dcap = local_cap("SPARK_GRAFT_JACCARD_DOCS_LOCAL_MAX", 8192)
        hd = sh.limit(dcap + 1).toPandas()
        if len(hd) <= dcap:
            out = _ngram_jaccard_local(pairs, hd, a_col, b_col)
            if out is not None:
                return _track_cached(out, [pairs])
    out = (
        pairs.join(sh.alias("sa"), F.col(a_col) == F.col("sa._sid"))
        .join(sh.alias("sb"), F.col(b_col) == F.col("sb._sid"))
        .select(
            F.col(a_col),
            F.col(b_col),
            F.try_divide(
                F.size(F.array_intersect("sa._sh", "sb._sh")),
                F.size(F.array_union("sa._sh", "sb._sh")),
            ).cast("double").alias("jaccard"),
        )
    )
    return _track_cached(out, [pairs])


def _ngram_jaccard_local(pairs: DataFrame, sh_pdf, a_col: str, b_col: str):
    """Score candidate pairs against collected shingle sets in one Arrow
    pass over the pair stream. Returns ``None`` when the collected docs
    side has duplicate ids or exceeds the closure byte guard (caller
    falls back to the verify joins)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    a_type = pairs.schema[a_col].dataType
    b_type = pairs.schema[b_col].dataType
    from pyspark.sql import types as _T

    def _norm_fn(t):
        if isinstance(t, (_T.LongType, _T.IntegerType, _T.ShortType,
                          _T.ByteType)):
            return int
        if isinstance(t, (_T.DoubleType, _T.FloatType)):
            return float
        return lambda x: x

    if type(a_type) is not type(b_type):
        return None  # mixed pair id types: leave coercion to the join
    na, nb = _norm_fn(a_type), _norm_fn(b_type)
    sets: dict = {}
    nbytes = 0
    for sid, arr in zip(sh_pdf["_sid"], sh_pdf["_sh"]):
        if sid is None or (isinstance(sid, float) and np.isnan(sid)):
            # null doc ids never match the inner equi-join
            continue
        sid = na(sid)
        if sid in sets:
            return None
        vals = list(arr) if arr is not None else []
        nbytes += sum(len(s) for s in vals) + 64 * max(1, len(vals))
        sets[sid] = frozenset(vals)
    if nbytes > 64_000_000:
        return None
    schema = StructType([StructField(a_col, a_type),
                         StructField(b_col, b_type),
                         StructField("jaccard", DoubleType())])

    def kernel(batches):
        for pdf in batches:
            o_a, o_b, o_j = [], [], []
            for a, b in zip(pdf[a_col], pdf[b_col]):
                if a is None or b is None \
                        or (isinstance(a, float) and np.isnan(a)) \
                        or (isinstance(b, float) and np.isnan(b)):
                    continue
                a, b = na(a), nb(b)
                sa = sets.get(a)
                sb = sets.get(b)
                if sa is None or sb is None:
                    continue
                inter = len(sa & sb)
                union = len(sa) + len(sb) - inter
                o_a.append(a)
                o_b.append(b)
                o_j.append(inter / union if union else np.nan)
            yield pd.DataFrame({a_col: o_a, b_col: o_b,
                                "jaccard": o_j})

    return pairs.select(a_col, b_col).mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text_col: str = "text") -> Column:
    """64-bit SimHash over whitespace tokens.

    For each bit b: sum over tokens of ±1 depending on bit b of the token's
    xxhash64; signature bit is 1 when the sum is positive (packed MSB-first,
    int64 two's complement). Tokenization and hashing stay JVM-side
    (:func:`~bid_evaluation_ext.operators.text.hashed_token_array`); the
    64-bit unpack/sum/pack runs as an Arrow-vectorized numpy kernel — the
    pure-expression fold over a 64-slot accumulator is interpreted (HOFs are
    outside whole-stage codegen) and measured ~3× slower. Map-only either
    way: no shuffle, O(64·n_tokens) work per document.
    """
    from .text import hashed_token_array

    @F.pandas_udf("long")
    def _sig(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(63, -1, -1, dtype=np.uint64)  # MSB-first
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            if arr is None or len(arr) == 0:
                continue
            x = np.asarray(arr, dtype=np.int64).view(np.uint64)
            sums = (((x[:, None] >> shifts[None, :]) & 1).astype(np.int64)
                    * 2 - 1).sum(axis=0)
            # distinct bit positions: the sum of shifted bits is their OR
            out[i] = ((sums > 0).astype(np.uint64) << shifts).sum(
                dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return _sig(hashed_token_array(F.col(text_col)))


def simhash_near_duplicates(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_hamming: int = 3,
                            num_chunks: int = 4,
                            engine: str = "auto") -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``.

    Blocking: split the 64-bit signature into ``num_chunks`` equal chunks —
    any pair at distance ≤ ``num_chunks - 1`` agrees on at least one chunk
    (pigeonhole), so candidates are generated by equality joins on
    (chunk_index, chunk_value) and verified with ``bit_count(a XOR b)``.
    Recall is GUARANTEED only for ``max_hamming <= num_chunks - 1``; beyond
    that pairs may be missed (their differing bits can straddle every chunk).
    More chunks ⇒ wider guaranteed radius but coarser chunk values (more
    candidate noise): num_chunks=4 gives 16-bit chunks/radius 3,
    num_chunks=8 gives 8-bit chunks/radius 7.

    Engines (r12 opt, the triangles/set-similarity pattern): the
    wide-radius configs (e.g. 16 chunks of FOUR bits) make the chunk
    buckets enormous — at 4-bit chunk values the equi-join degenerates
    toward all-pairs and shuffles millions of candidate rows to verify
    a corpus whose signature table fits one task. ``auto`` collects the
    (id, signature) table below ``SPARK_GRAFT_SIMHASH_LOCAL_MAX_DOCS``
    rows (default 4 096 — 1 uint64 per doc, n² popcounts ≤ 16M) and
    computes the IDENTICAL pair set in numpy: a pair is emitted iff it
    agrees on ≥ 1 chunk AND ``popcount(a XOR b) ≤ max_hamming`` — the
    exact join-route semantics, including the deliberate partial recall
    when ``max_hamming > num_chunks − 1``. Pairs are emitted from
    WORKERS (each task scores an id block against the broadcast
    signature table). Duplicate or null ids fall back to the join
    engine (the join's multiplicity semantics are its own); above the
    cap the join runs unchanged; ``engine="join"`` forces it.
    """
    if 64 % num_chunks:
        raise ValueError(f"num_chunks must divide 64: {num_chunks}")
    if engine not in ("auto", "kernel", "join"):
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")
    from .text import tokens

    sigs_expr = (
        df.filter(F.size(tokens(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("_id"), simhash(text_col).alias("_sh")))
    if engine != "join":
        import os
        cap = local_cap("SPARK_GRAFT_SIMHASH_LOCAL_MAX_DOCS", 4096)
        head = (sigs_expr.toPandas() if engine == "kernel"
                else sigs_expr.limit(cap + 1).toPandas())
        if engine == "kernel" or len(head) <= cap:
            out = _simhash_pairs_local(df.sparkSession, head, max_hamming,
                                       num_chunks,
                                       df.schema[id_col].dataType)
            if out is not None:
                return out
            if engine == "kernel":
                raise ValueError("kernel engine requires unique, non-null "
                                 "ids (duplicates found)")

    # cache signatures: the chunk self-join reads them twice, and signature
    # computation (64×tokens integer ops per doc) dominates the operator.
    # Token-less docs all hash to signature 0 — exclude them (they'd pair
    # quadratically with each other while carrying no similarity evidence).
    sigs = sigs_expr.persist()
    width = 64 // num_chunks
    mask = (1 << width) - 1
    chunks = sigs.select(
        "_id", "_sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright("_sh", width * i).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for i in range(num_chunks)
        ])).alias("c"),
    ).select("_id", "_sh", "c.ci", "c.cv")
    l, r = chunks.alias("l"), chunks.alias("r")
    result = (
        l.join(r, (F.col("l.ci") == F.col("r.ci")) & (F.col("l.cv") == F.col("r.cv"))
               & (F.col("l._id") < F.col("r._id")))
        .select(
            F.col("l._id").alias("a_id"), F.col("r._id").alias("b_id"),
            F.bit_count(F.col("l._sh").bitwiseXOR(F.col("r._sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _track_cached(result, [sigs])


_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                      axis=1).sum(axis=1).astype(np.uint8)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64 array (numpy < 2 has no
    ``bitwise_count``): byte view + 256-entry lookup table."""
    b = x.view(np.uint8).reshape(len(x), 8)
    return _POP8[b].sum(axis=1, dtype=np.int64)


def _simhash_pairs_local(spark, sigs_pdf, max_hamming: int,
                         num_chunks: int, id_type):
    """Driver-coordinated dense twin of the simhash chunk join: every
    pair agreeing on ≥ 1 chunk with ``popcount(a XOR b) ≤ max_hamming``
    — BIT-identical to the equi-join + ``bit_count`` route, including
    the deliberate partial recall above the pigeonhole radius. Returns
    ``None`` on duplicate/null ids (the join's multiplicity semantics
    are its own; caller falls back)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    # null ids / null signatures never produce a pair in the join route
    # (null < x and null XOR x are null) — drop them; duplicate ids keep
    # the join's multiplicity semantics, so fall back
    sigs_pdf = sigs_pdf[sigs_pdf["_id"].notna()
                        & sigs_pdf["_sh"].notna()].reset_index(drop=True)
    ids_ser = sigs_pdf["_id"]
    if ids_ser.duplicated().any():
        return None
    schema = StructType([StructField("a_id", id_type),
                         StructField("b_id", id_type),
                         StructField("hamming", IntegerType())])
    n = len(sigs_pdf)
    if n < 2:
        return spark.createDataFrame([], schema)
    if sigs_pdf["_sh"].dtype.kind != "i":
        # a null signature anywhere degrades the pandas column to
        # float64, which cannot hold 64-bit signatures exactly — the
        # join engine keeps full precision, so fall back
        return None
    sig = sigs_pdf["_sh"].to_numpy(dtype=np.int64).view(np.uint64)
    # a nullable numeric id column comes back from pandas as float64
    # (NaN = null) — normalize survivors to the schema's Python type
    from pyspark.sql import types as _T
    if isinstance(id_type, (_T.LongType, _T.IntegerType, _T.ShortType,
                            _T.ByteType)):
        id_list = [int(x) for x in ids_ser]
    elif isinstance(id_type, (_T.DoubleType, _T.FloatType)):
        id_list = [float(x) for x in ids_ser]
    else:
        id_list = ids_ser.tolist()
    width = 64 // num_chunks
    mask = np.uint64((1 << width) - 1)
    # (num_chunks × n) chunk-value matrix — the blocking predicate
    C = np.stack([(sig >> np.uint64(width * i)) & mask
                  for i in range(num_chunks)])
    ids_df = spark.createDataFrame(
        [(k,) for k in id_list], StructType([StructField("_id", id_type)]))
    row_of = {k: i for i, k in enumerate(id_list)}
    n_slots = max(1, min(int(spark.sparkContext.defaultParallelism), n))
    hmax = int(max_hamming)

    def kernel(batches):
        for pdf in batches:
            o_a, o_b, o_h = [], [], []
            for rid in pdf["_id"]:
                i = row_of[rid]
                share = (C == C[:, i:i + 1]).any(axis=0)
                ham = _popcount64(sig[i] ^ sig)
                hits = np.nonzero(share & (ham <= hmax))[0]
                me = id_list[i]
                for j in hits.tolist():
                    if me < id_list[j]:
                        o_a.append(me)
                        o_b.append(id_list[j])
                        o_h.append(int(ham[j]))
            yield pd.DataFrame({"a_id": o_a, "b_id": o_b, "hamming": o_h})

    return ids_df.repartition(n_slots).mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# Embedding near-duplicates (cosine)
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns, JVM-side."""
    return (_dot(a, b) / (_norm(a) * _norm(b))).cast("double")


def embedding_near_duplicates(df: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              block_col: Optional[str] = None,
                              num_planes: int = 8,
                              seed: int = 42,
                              max_block: Optional[int] = 50_000) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold.

    Blocking: an explicit ``block_col`` if provided (e.g. a cluster/label
    column), else random-hyperplane sign buckets (``num_planes`` planes ⇒
    2^planes buckets; highly-similar vectors collide with high probability).
    Exact cosine verifies within blocks.

    **Block-size bound (the 100 TB guard):** with ``max_block`` set (default),
    block sizes are counted first and any block larger than the bound is
    salted into ``s = ceil(n / max_block)`` sub-blocks by id hash; every row
    replicates to the ``s`` unordered sub-block pairs containing its salt, so
    each candidate pair still meets in EXACTLY one verify task: diagonal
    tasks (a,a) verify all their pairs, off-diagonal tasks (a,b) verify only
    cross-salt pairs. A pathological bucket now costs s·(s+1)/2 bounded tasks
    instead of one executor-OOM task; replication overhead is ×s on the
    oversized block only. Results are provably identical to the unsalted
    operator (property-tested).

    The block-size check runs eagerly (one tiny partial-agged count job and
    a one-row collect at call time): when NO block exceeds the bound — the
    overwhelmingly common case — the returned plan is exactly the unsalted
    one, with no size join, salt columns, or task explode. Both designs scan
    the input twice (a lazily-joined sizes frame would be materialized for
    its broadcast anyway), so the eager check costs nothing extra at scale
    while removing the per-row salting machinery from the common path.
    """
    if block_col is None:
        df = df.withColumn("_block", _hyperplane_bucket(F.col(vec_col), num_planes, seed))
        block_col = "_block"
    sel = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                    F.col(block_col).alias("_blk"))

    salted = max_block is not None
    if salted:
        # one tiny agg (a count per block — broadcastable by construction);
        # its max decides driver-side whether salting is needed at all
        sizes = sel.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bn"))
        largest = sizes.agg(F.max("_bn")).collect()[0][0]
        salted = largest is not None and largest > int(max_block)
    if salted:
        s = F.greatest(F.lit(1), F.ceil(F.col("_bn") / F.lit(int(max_block)))).cast("int")
        tasks = F.transform(
            F.sequence(F.lit(0), F.col("_s") - 1),
            lambda b: F.struct(F.least(F.col("_salt"), b).alias("ta"),
                               F.greatest(F.col("_salt"), b).alias("tb")),
        )
        sel = (
            sel.join(F.broadcast(sizes), on="_blk")
            .withColumn("_s", s)
            .withColumn("_salt", F.pmod(
                F.xxhash64(F.col("_id").cast("string"), F.lit(seed)),
                F.col("_s")).cast("int"))
            .withColumn("_t", F.explode(tasks))
            .select("_id", "_v", "_blk", "_salt",
                    F.col("_t.ta").alias("_ta"), F.col("_t.tb").alias("_tb"))
        )
        group_cols = ["_blk", "_ta", "_tb"]
    else:
        group_cols = ["_blk"]

    # Per-task exact verify as slabbed BLAS matmuls (normalized X @ slabᵀ) via
    # applyInPandas — each task's rows land on one executor, Arrow-batched,
    # and the O(task²·dim) similarity work runs vectorized instead of one
    # interpreted array-fold per candidate pair (measured ~6× at sf0.1).
    # Slabbing keeps the similarity matrix at O(slab·n) floats regardless of
    # task size; max_block bounds n itself.
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = sel.schema["_id"].dataType
    out_schema = StructType([
        StructField("a_id", id_type),
        StructField("b_id", id_type),
        StructField("cosine", DoubleType()),
    ])
    empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine": []})

    def _verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        cross_only = salted and key[1] != key[2]
        X = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        ids = pdf["_id"].to_numpy()
        salts = pdf["_salt"].to_numpy() if salted else None
        jj = np.arange(n)
        slab = max(1, (4 << 20) // n)  # ≤ ~32 MB of float64 per S slab
        outs = []
        for i0 in range(0, n, slab):
            i1 = min(i0 + slab, n)
            S = Xn[i0:i1] @ Xn.T
            mask = (S >= threshold) & (jj[None, :] > np.arange(i0, i1)[:, None])
            if cross_only:
                mask &= salts[None, :] != salts[i0:i1, None]
            ii, js = np.nonzero(mask)
            if not len(ii):
                continue
            a, b = ids[ii + i0], ids[js]
            swap = a > b  # normalize pair order to a_id < b_id
            outs.append(pd.DataFrame({
                "a_id": np.where(swap, b, a),
                "b_id": np.where(swap, a, b),
                "cosine": S[ii, js],
            }))
        return pd.concat(outs, ignore_index=True) if outs else empty

    return sel.groupBy(*group_cols).applyInPandas(_verify, schema=out_schema)


def dedup_against_corpus(new_df: DataFrame, seen_df: DataFrame,
                         text_col: str = "text",
                         canonical: bool = True) -> DataFrame:
    """Incremental exact dedup: rows of ``new_df`` whose content does NOT
    already appear in ``seen_df`` — the cross-snapshot pass a growing corpus
    runs on every ingest (new crawl vs everything already kept).

    Content identity is the md5 of the canonicalized text (or raw text with
    ``canonical=False``) — a portable digest, so the seen-side key set can be
    produced by another engine or a previous pipeline run. Scale shape: the
    seen side reduces to DISTINCT digests (one map-side-combined groupBy of
    the 100-TB corpus's 16-byte keys), then one left-anti equi-join keyed on
    the digest; nothing ever broadcasts or collects. For repeated ingests
    against a slowly-growing corpus, persist the distinct-digest frame once
    and reuse it across batches.
    """
    from .text import canonical_fingerprint_md5

    if canonical:
        key = canonical_fingerprint_md5(text_col)
    else:
        key = F.md5(F.col(text_col).cast("binary"))
    new_k = new_df.withColumn("_ck", key)
    seen_k = seen_df.select(key.alias("_ck")).distinct()
    return (new_k.join(seen_k, on="_ck", how="left_anti")
            .drop("_ck"))


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.9,
                   n_clusters: int = 16, nprobe: int = 2,
                   max_block: Optional[int] = 50_000, seed: int = 42,
                   centroids: Optional["np.ndarray"] = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the embedding
    space, verify cosine near-duplicate pairs within each cluster, and keep
    one canonical row (min id) per duplicate group.

    The published SemDeDup recipe (Abbas et al. 2023) at Spark scale:
    clustering replaces the all-pairs O(n²) comparison with per-cluster
    verifies — the same bounded applyInPandas BLAS verify (and salted
    sub-block bound) as :func:`embedding_near_duplicates`, with the learned
    cluster id as the blocking key instead of random hyperplanes. With
    ``nprobe > 1`` every vector replicates to its nprobe nearest clusters
    (IVF multiprobe), so borderline pairs split by a cluster boundary still
    meet — ×nprobe replication instead of quadratic block growth. Like all
    blocked near-dup passes it is approximate by construction; recall is
    measured against the exact all-pairs set in tests, the pattern VERDICT
    r1 accepted for the ANN operators.

    ``centroids`` accepts a pre-trained (k × dim) matrix (e.g. from a
    previous corpus snapshot) to skip the k-means fit.
    """
    pairs = semantic_dedup_pairs(df, id_col=id_col, vec_col=vec_col,
                                 threshold=threshold, n_clusters=n_clusters,
                                 nprobe=nprobe, max_block=max_block,
                                 seed=seed, centroids=centroids)
    return dedup_near_duplicates(df, pairs, id_col=id_col)


def semantic_dedup_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", threshold: float = 0.9,
                         n_clusters: int = 16, nprobe: int = 2,
                         max_block: Optional[int] = 50_000,
                         seed: int = 42,
                         centroids: Optional["np.ndarray"] = None) -> DataFrame:
    """The within-cluster near-duplicate pairs behind :func:`semantic_dedup`
    — ``(a_id, b_id, cosine)`` — for callers that want the pair graph (audit,
    cluster-size stats) rather than the deduplicated frame. Pairs meeting in
    several probed clusters are emitted once (dropDuplicates on the pair)."""
    from .similarity import assign_clusters, kmeans_centroids

    if centroids is None:
        centroids = kmeans_centroids(df.select(F.col(vec_col).alias("_v")),
                                     vec_col="_v", k=n_clusters, seed=seed)
    with_c = assign_clusters(df, centroids, vec_col=vec_col,
                             out_col="_sem_cluster", nprobe=nprobe)
    pairs = embedding_near_duplicates(
        with_c, id_col=id_col, vec_col=vec_col, threshold=threshold,
        block_col="_sem_cluster", max_block=max_block, seed=seed)
    if nprobe > 1:
        pairs = pairs.dropDuplicates(["a_id", "b_id"])
    return pairs


def _hyperplane_bucket(vec: Column, num_planes: int, seed: int) -> Column:
    """Sign-pattern bucket id from deterministic pseudo-random hyperplanes.

    Arrow-vectorized numpy kernel: one seeded Gaussian (dim × planes) matrix
    (derived lazily from each batch's vector length, so no broadcast plumbing)
    and a single matmul per batch. The earlier pure-expression form re-derived
    a per-element sign hash per plane per row — O(planes·dim) interpreted HOF
    work per vector, the exact trap NOTES.md lesson #2 documents for the
    minhash/simhash kernels. Null/empty vectors land in bucket 0.
    """
    pw = np.power(2, np.arange(num_planes), dtype=np.int64)

    @F.pandas_udf("int")
    def _bucket(vecs: pd.Series) -> pd.Series:
        vals = vecs.tolist()
        out = np.zeros(len(vals), dtype=np.int32)
        # group rows by dim so ragged batches still vectorize per group
        by_dim: dict = {}
        for i, v in enumerate(vals):
            if v is not None and len(v):
                by_dim.setdefault(len(v), []).append(i)
        for dim, idxs in by_dim.items():
            X = np.asarray([vals[i] for i in idxs], dtype=np.float64)
            P = np.random.default_rng(seed).standard_normal((dim, num_planes))
            bits = (X @ P) > 0
            out[idxs] = (bits @ pw).astype(np.int32)
        return pd.Series(out)

    return _bucket(vec)


# ---------------------------------------------------------------------------
# Near-duplicate clustering (connected components) + canonical keep
# ---------------------------------------------------------------------------

def _cc_two_phase(pairs: DataFrame, a_col: str, b_col: str,
                  max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    large-star links every neighbor LARGER than a node to the node's
    minimum neighbor; small-star re-roots the smaller neighbors; the
    alternation contracts to star forests rooted at each component's
    minimum in O(log² n) rounds vs min-label propagation's O(diameter).
    That is the difference that matters on CHAINY graphs — grid-adjacent
    DBSCAN cores, span chains — where diameter grows with the data but
    log n barely moves.  Each round is two partitioned
    groupBy-join pairs; lineage is localCheckpoint-truncated per round
    (same rationale as the label-propagation path).  Convergence =
    identical (count, edge-hash-sum) signature on consecutive rounds
    (the potential function of the paper decreases monotonically, so no
    cycling; the final star forest is a fixpoint of both stars).
    """
    ids = (pairs.select(F.col(a_col).alias("id"))
           .union(pairs.select(F.col(b_col).alias("id")))
           .distinct().persist())
    # directed convention: (a, b) with a > b, self-loops dropped
    dir_e = (pairs.filter(F.col(a_col) != F.col(b_col))
             .select(F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
                     F.least(F.col(a_col), F.col(b_col)).alias("b"))
             .distinct().localCheckpoint())
    prev_sig = None
    for _ in range(max_iter):
        sym = (dir_e.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .union(dir_e.select(F.col("b").alias("u"),
                                   F.col("a").alias("v"))))
        # large-star: every v > u links to m(u) = min(N(u) ∪ {u})
        m = (sym.groupBy("u").agg(F.min("v").alias("_mn"))
             .select("u", F.least(F.col("_mn"), F.col("u")).alias("m")))
        # no .distinct() here: both consumers tolerate duplicate rows —
        # m2 is a min() aggregate and `small` deduplicates at its own
        # distinct — so the extra exchange per round bought nothing
        # (one full shuffle per round removed; measured on the DBSCAN
        # core grid, the chainy worst case this engine exists for)
        large = (sym.join(m, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b")))
        # small-star: each node's smaller neighbors (and itself) re-root
        # to the minimum of that down-neighborhood
        m2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (large.join(m2, "a")
                 .select(F.col("b").alias("v"), "m")
                 .unionByName(m2.select(F.col("a").alias("v"), "m"))
                 .filter(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .distinct().localCheckpoint())
        # Fixpoint detection via a (count, hash-sum, hash-sum) signature.
        # Two INDEPENDENT 64-bit hash aggregates (xxhash64 with distinct
        # literal salts) make a premature-convergence collision ~2^-128
        # even under wrapping long addition — one sum alone leaves a
        # ~2^-64 window where different edge sets end iteration early
        # and return wrong labels with no error.
        row = small.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.xxhash64("a", "b")).alias("h1"),
            F.sum(F.xxhash64(F.lit(0x9E3779B9), "a", "b")).alias("h2"),
        ).collect()[0]
        sig = (int(row["c"]), row["h1"], row["h2"])
        dir_e = small
        if sig == prev_sig:
            labels = (ids.join(dir_e.groupBy("a").agg(F.min("b")
                                                      .alias("_r")),
                               ids["id"] == F.col("a"), "left")
                      .select("id", F.coalesce(F.col("_r"), F.col("id"))
                              .alias("cluster_id")))
            return _track_cached(labels, [ids])
        prev_sig = sig
    ids.unpersist()
    raise RuntimeError(
        f"connected components did not converge in {max_iter} iterations")


#: edge-count ceiling for the single-task union-find CC path — ~32 MB of
#: (long, long) rows, far below one task's memory; overridable for
#: cluster profiles via SPARK_GRAFT_CC_LOCAL_MAX
_CC_LOCAL_MAX_EDGES = 2_000_000


def _cc_local(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Single-task union-find connected components — the small-graph
    engine behind ``algorithm="local"``.

    When the edge set fits one task (callers guard on a count they
    already have), the distributed star-contraction rounds are pure
    overhead: each round is ~5 shuffled stages plus an eager
    localCheckpoint and a driver sync, i.e. seconds of fixed latency to
    label a graph union-find finishes in milliseconds. This path funnels
    all edges into ONE mapInPandas task (Arrow batches in, one labeled
    frame out) and labels each node with the component minimum — the
    same output contract as the distributed engines, for any id type.
    """
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    out_schema = edges.select(
        F.col("a").alias("id"), F.col("a").alias("cluster_id")).schema

    def _label(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        roots = {}
        for node in parent:
            r = find(node)
            cur = roots.get(r)
            if cur is None or node < cur:
                roots[r] = node
        ids = list(parent)
        yield pd.DataFrame({"id": ids,
                            "cluster_id": [roots[find(n)] for n in ids]})

    return edges.coalesce(1).mapInPandas(_label, out_schema)


def near_duplicate_clusters(pairs: DataFrame, a_col: str = "a_id",
                            b_col: str = "b_id",
                            max_iter: int = 20,
                            algorithm: str = "auto") -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    ``(id, cluster_id)`` with ``cluster_id = min(id)`` of the component.

    Interchangeable engines (identical output):

    - ``algorithm="auto"`` (default): persist the pair list, count it,
      and dispatch on size — ``local`` single-task union-find when the
      edge count fits one task (≤ ``SPARK_GRAFT_CC_LOCAL_MAX``, default
      2M edges ≈ 32 MB), else ``label``. Near-dup pair graphs are tiny
      relative to the corpus that produced them (banding bounds them),
      so the distributed rounds' fixed latency (~5 shuffled stages + an
      eager localCheckpoint + a driver sync PER ROUND) usually dwarfs
      the milliseconds union-find needs; the count probe doubles as the
      cache-filling materialization of the (often expensive) pair
      subtree, which every engine otherwise persists anyway.
    - ``algorithm="label"``: iterative min-label propagation
      (the GraphFrames/Pregel CC pattern in plain DataFrame ops) — each
      round every node takes the minimum label among itself and its
      neighbors.  One join + one groupBy per round; converges in
      O(diameter) rounds, which is 2-4 for the SHALLOW components
      banding produces (stars/short chains) — the cheapest choice for
      near-dup graphs.
    - ``algorithm="twophase"``: alternating large-star/small-star
      contraction (:func:`_cc_two_phase`, Kiveris et al. SoCC 2014) —
      O(log² n) rounds regardless of diameter, the right engine for
      CHAINY graphs (DBSCAN core grids, long span chains) where
      label propagation pays a round per hop.

    Both bound rounds by ``max_iter`` and raise rather than return
    partial labels.
    """
    if algorithm == "auto":
        import os
        edges = pairs.select(a_col, b_col).persist()
        n_edges = edges.count()
        local_max = local_cap("SPARK_GRAFT_CC_LOCAL_MAX", _CC_LOCAL_MAX_EDGES)
        out = near_duplicate_clusters(
            edges, a_col, b_col, max_iter,
            "local" if n_edges <= local_max else "label")
        return _track_cached(out, [edges])
    if algorithm == "twophase":
        return _cc_two_phase(pairs, a_col, b_col, max_iter)
    if algorithm == "local":
        return _cc_local(pairs, a_col, b_col)
    if algorithm != "label":
        raise ValueError(f"algorithm must be 'auto', 'label', 'twophase' "
                         f"or 'local', got {algorithm!r}")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    cached = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .persist()
    )
    labels = cached
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # change detection rides the same pass — no separate old-vs-new join.
        # localCheckpoint (not persist): `labels` feeds BOTH join inputs, so
        # without lineage truncation the logical plan doubles every round —
        # exponential plan trees that OOM the driver on deep/chainy graphs
        # long before any data-size limit. Checkpointing materializes the
        # round AND cuts the lineage, the standard Spark pattern for
        # iterative label propagation. (Local checkpoint blocks don't survive
        # executor loss; at cluster scale set a reliable checkpoint dir and
        # swap to .checkpoint() if that matters for multi-hour jobs.)
        stepped = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("label"),
                        F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_ch"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("_ch")).limit(1).count()
        cached.unpersist()
        cached = stepped
        labels = stepped.drop("_ch")
        if changed == 0:
            edges.unpersist()
            return _track_cached(
                labels.select("id", F.col("label").alias("cluster_id")),
                [cached],
            )
    edges.unpersist()
    cached.unpersist()  # the error path must not leak the last round's cache
    raise RuntimeError(
        f"connected components did not converge in {max_iter} iterations"
    )


def dedup_near_duplicates(df: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id", a_col: str = "a_id",
                          b_col: str = "b_id") -> DataFrame:
    """Keep one canonical row (min id) per near-duplicate cluster.

    ``pairs`` is any verified near-dup pair set (minhash/simhash/embedding);
    rows in no pair are untouched. The drop set — cluster members other than
    the canonical min — is anti-joined against ``df``."""
    clusters = near_duplicate_clusters(pairs, a_col, b_col)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    return _track_cached(df.join(drop, df[id_col] == drop["id"], "left_anti"),
                         getattr(clusters, "_cached_deps", []))


def minhash_against_corpus(new_df: DataFrame, corpus_df: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           threshold: float = 0.7, num_perm: int = 64,
                           bands: int = 16, shingle_k: int = 3,
                           seed: int = 42) -> DataFrame:
    """Cross-corpus near-duplicate detection: which NEW documents
    near-duplicate the KEPT corpus — the approximate companion to
    :func:`dedup_against_corpus` (exact digests) for an incremental
    corpus refresh, and the document-level sibling of shingle
    decontamination.

    Same machinery as :func:`minhash_near_duplicates`, but the band
    equi-join runs BETWEEN the two signature frames (never within one),
    so candidate volume scales with true cross-corpus collisions. Both
    sides hash with the same permutations/seed — band identity is
    bit-compatible by construction. Returns ``(new_id, corpus_id,
    jaccard)`` for exact shingle-Jaccard ≥ threshold over LSH candidates;
    anti-join the new batch on ``new_id`` to keep only fresh content.
    """
    def _sig(df, alias):
        return (with_minhash_signature(df, text_col, num_perm, shingle_k,
                                       seed)
                .filter(F.size("_shingles") > 0)
                .select(F.col(id_col).alias(alias), "_shingles", "_minhash")
                .persist())

    sig_n = _sig(new_df, "_nid")
    sig_c = _sig(corpus_df, "_cid")
    bs = minhash_band_structs(num_perm, bands)
    banded_n = (sig_n.select("_nid", F.explode(bs).alias("b"))
                .select("_nid", "b.band", "b.bh"))
    banded_c = (sig_c.select("_cid", F.explode(bs).alias("b"))
                .select("_cid", "b.band", "b.bh"))
    cand = (banded_n.join(banded_c, ["band", "bh"])
            .select("_nid", "_cid").distinct())
    a = sig_n.select(F.col("_nid").alias("_na"),
                     F.col("_shingles").alias("_sa"))
    b = sig_c.select(F.col("_cid").alias("_cb"),
                     F.col("_shingles").alias("_sb"))
    out = (cand.join(a, F.col("_nid") == F.col("_na"))
           .join(b, F.col("_cid") == F.col("_cb"))
           .withColumn("jaccard", F.try_divide(
               F.size(F.array_intersect("_sa", "_sb")),
               F.size(F.array_union("_sa", "_sb"))).cast("double"))
           .filter(F.col("jaccard") >= threshold)
           .select(F.col("_nid").alias("new_id"),
                   F.col("_cid").alias("corpus_id"), "jaccard"))
    return _track_cached(out, [sig_n, sig_c])


def jaccard_similarity_join(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            threshold: float = 0.5,
                            lowercase: bool = True,
                            engine: str = "auto") -> DataFrame:
    """EXACT token-set Jaccard join via prefix filtering (the PPJoin
    family) — recall 1 by construction, unlike MinHash: two sets with
    J ≥ t MUST share a token within their first ``|X| − ⌈t·|X|⌉ + 1``
    tokens under any shared global token order (rarest-first minimizes
    candidates). Returns ``(a_id, b_id, jaccard)`` with ``a_id < b_id``.

    Plan shape: one token-frequency aggregate (partial-agg shuffle), one
    doc-keyed shuffle to assemble each doc's frequency-sorted token
    array, a candidate equi-join on PREFIX tokens only (never the full
    token lists), and an exact verify on the candidate pairs. No ranks
    are materialized for the global order — sorting by the (freq, token)
    struct itself is the total order, so no vocabulary-wide window
    exists anywhere.

    Engines (r12 opt, the triangles-kernel pattern): prefix filtering
    dies precisely on small-vocabulary corpora — every posting is ~the
    corpus, candidates degenerate to all-pairs and the verify pays an
    array_intersect per pair. ``auto`` collects the per-doc token sets
    below ``SPARK_GRAFT_JACCARD_LOCAL_MAX_DOCS`` docs (default 4 096)
    when the dense work ``n²·V`` is also affordable (≤ 2e10
    multiply-adds ≈ a second of BLAS), and computes the EXACT
    intersection matrix ``D·Dᵀ`` on the driver — 0/1 counts < 2^24,
    exact in float32, with the identical int→double Jaccard division.
    A big-vocabulary corpus fails the flop guard and takes the prefix
    join, which is exactly where the lemma prunes well; an
    ``engine="join"`` override forces it.
    """
    import os

    from .text import tokens

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if engine not in ("auto", "kernel", "join"):
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    if engine != "join":
        cap = local_cap("SPARK_GRAFT_JACCARD_LOCAL_MAX_DOCS", 4096)
        sets_df = df.select(F.col(id_col).alias("_id"),
                            F.array_distinct(tokens(text)).alias("_ts"))
        head = (sets_df.toPandas() if engine == "kernel"
                else sets_df.limit(cap + 1).toPandas())
        if engine == "kernel" or len(head) <= cap:
            out = _jaccard_join_local(df.sparkSession, head, threshold,
                                      df.schema[id_col].dataType,
                                      force=(engine == "kernel"))
            if out is not None:
                return out
    t = (df.select(F.col(id_col).alias("_id"),
                   F.explode(F.array_distinct(tokens(text))).alias("_tok")))
    freq = t.groupBy("_tok").agg(F.count(F.lit(1)).alias("_f"))
    ordered = (t.join(freq, "_tok")
               .groupBy("_id")
               .agg(F.sort_array(F.collect_list(F.struct("_f", "_tok")))
                    .alias("_st"))
               .select("_id",
                       F.expr("transform(_st, x -> x._tok)").alias("_ts"))
               .persist())
    n = F.size("_ts")
    # ceil via -floor(-x): exact for the binary-representable thresholds
    # this is meant for (0.5, 0.25, ...); the verify is exact regardless
    plen = (n - (-F.floor(-(F.lit(float(threshold)) * n))).cast("int")
            + F.lit(1))
    pref = (ordered.filter(n > 0)
            .select("_id", F.explode(F.slice("_ts", 1, plen)).alias("_tok")))
    a, b = pref.alias("pa"), pref.alias("pb")
    cand = (a.join(b, (F.col("pa._tok") == F.col("pb._tok"))
                   & (F.col("pa._id") < F.col("pb._id")))
            .select(F.col("pa._id").alias("a_id"),
                    F.col("pb._id").alias("b_id")).distinct())
    fa = ordered.select(F.col("_id").alias("_ia"), F.col("_ts").alias("_ta"))
    fb = ordered.select(F.col("_id").alias("_ib"), F.col("_ts").alias("_tb"))
    out = (cand.join(fa, F.col("a_id") == F.col("_ia"))
           .join(fb, F.col("b_id") == F.col("_ib"))
           .withColumn("jaccard", F.try_divide(
               F.size(F.array_intersect("_ta", "_tb")),
               F.size(F.array_union("_ta", "_tb"))).cast("double"))
           .filter(F.col("jaccard") >= threshold)
           .select("a_id", "b_id", "jaccard"))
    return _track_cached(out, [ordered])


def _jaccard_join_local(spark, sets_pdf, threshold: float, id_type,
                        force: bool = False):
    """Driver-side exact Jaccard all-pairs over collected token sets:
    ``I = D·Dᵀ`` on the 0/1 doc×token matrix, ``J = I/(na+nb−I)``.
    Replicates the join engine's semantics exactly: rows sharing an id
    merge their token sets (the groupBy(_id) assembly), empty-set and
    null-id docs never pair, output is one row per (a_id < b_id) pair
    with the same int→double division. Returns ``None`` when the dense
    work exceeds the flop guard (caller falls back to the prefix
    join)."""
    from pyspark.sql import types as _T

    # a nullable numeric id column comes back from pandas as float64
    # (NaN = null) — normalize survivors to the schema's Python type
    if isinstance(id_type, (_T.LongType, _T.IntegerType, _T.ShortType,
                            _T.ByteType)):
        norm = int
    elif isinstance(id_type, (_T.DoubleType, _T.FloatType)):
        norm = float
    else:
        norm = lambda x: x  # noqa: E731
    merged: dict = {}
    for rid, ts in zip(sets_pdf["_id"], sets_pdf["_ts"]):
        if rid is None or (isinstance(rid, float) and np.isnan(rid)):
            continue
        rid = norm(rid)
        if ts is None or len(ts) == 0:
            merged.setdefault(rid, set())
            continue
        merged.setdefault(rid, set()).update(ts)
    ids = sorted(k for k, v in merged.items() if v)
    vocab: dict = {}
    for k in ids:
        for t in merged[k]:
            vocab.setdefault(t, len(vocab))
    n, V = len(ids), max(len(vocab), 1)
    # flop guard (n²·V dense MACs) plus a matrix-bytes guard (n·V —
    # the matrix rides the kernel closure to every worker)
    if not force and (n * n * V > 20_000_000_000
                      or n * V > 25_000_000):
        return None
    from pyspark.sql.types import DoubleType, StructField, StructType
    schema = StructType([StructField("a_id", id_type),
                         StructField("b_id", id_type),
                         StructField("jaccard", DoubleType())])
    if n < 2:
        return spark.createDataFrame([], schema)
    M = np.zeros((n, V), dtype=np.float32)
    row_of = {k: i for i, k in enumerate(ids)}
    for i, k in enumerate(ids):
        for t in merged[k]:
            M[i, vocab[t]] = 1.0
    sz = M.sum(axis=1, dtype=np.float64)
    thr = float(threshold)
    # pairs are emitted from WORKERS, not the driver: a first draft
    # built the result with createDataFrame on the driver and lost the
    # whole win pushing ~430k pair rows through one process — so the
    # merged ids round-trip through a tiny distributed frame and each
    # task scores its id-block against the broadcast matrix
    ids_df = spark.createDataFrame([(k,) for k in ids],
                                   StructType([StructField("_id",
                                                           id_type)]))
    n_slots = max(1, min(
        int(spark.sparkContext.defaultParallelism), n))

    def kernel(batches):
        for pdf in batches:
            o_a, o_b, o_j = [], [], []
            for rid in pdf["_id"]:
                i = row_of[rid]
                inter = (M[i] @ M.T).astype(np.float64)
                union = sz[i] + sz - inter
                with np.errstate(divide="ignore", invalid="ignore"):
                    J = inter / union
                # emit each pair once, owned by its smaller id
                hits = np.nonzero(J >= thr)[0]
                for j in hits.tolist():
                    if ids[i] < ids[j]:
                        o_a.append(ids[i])
                        o_b.append(ids[j])
                        o_j.append(float(J[j]))
            yield pd.DataFrame({"a_id": o_a, "b_id": o_b,
                                "jaccard": o_j})

    return ids_df.repartition(n_slots).mapInPandas(kernel, schema)


def dedup_keep_best(df: DataFrame, pairs: DataFrame, score_col: str,
                    id_col: str = "doc_id", a_col: str = "a_id",
                    b_col: str = "b_id") -> DataFrame:
    """Keep the HIGHEST-scoring row per near-duplicate cluster (ties →
    lowest id) instead of :func:`dedup_near_duplicates`'s min-id rule —
    the curation policy that keeps the best-quality representative of
    each duplicate family. ``score_col`` should already be rounded if an
    engine-independent tie order matters (the quality-score contract).

    One clusters pass (min-label CC over the verified pairs), a
    cluster-keyed rank window over members only (never the corpus), and
    a left-anti join back — rows in no pair are untouched.
    """
    from pyspark.sql import Window

    clusters = near_duplicate_clusters(pairs, a_col, b_col)
    members = clusters.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_q")),
        "id")
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.desc("_q"), F.asc("id")))
    drop = (members.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1).select("id"))
    return _track_cached(
        df.join(drop, df[id_col] == drop["id"], "left_anti"),
        getattr(clusters, "_cached_deps", []))


def _containment_kernel(hay: DataFrame, needle_rows, threshold: float,
                        nid_type, hid_type):
    """Map-only exact containment: broadcast needle token masks, one
    boolean matrix product per hay batch. Returns ``None`` when the
    needle×token matrix would exceed the in-memory guard (caller falls
    back to the prefix-join engine). Pair-set parity with the join
    engine: null-id needles never survive its verify join, needles
    with no tokens yield null containment (dropped), and for t > 0
    every qualifying pair shares a token."""
    kept = [(r["_nid"], r["_ts"]) for r in needle_rows
            if r["_nid"] is not None and r["_ts"]]
    vocab = sorted({t for _, ts in kept for t in ts})
    # the needle-mask matrix ships in the kernel closure to every
    # worker — bound it to ~64 MB float32
    if len(kept) * max(len(vocab), 1) > 16_000_000:
        return None
    if not kept:
        # zero usable needles: the join engine yields zero rows; emit
        # the same empty frame with the contract schema
        hay = hay.filter(F.lit(False))
    tok_idx = {t: i for i, t in enumerate(vocab)}
    nmask = np.zeros((len(kept), len(vocab)), dtype=np.float32)
    nlen = np.zeros(len(kept), dtype=np.float64)
    nids = []
    for i, (nid, ts) in enumerate(kept):
        for t in ts:
            nmask[i, tok_idx[t]] = 1.0
        nlen[i] = float(len(ts))
        nids.append(nid)
    nids_arr = pd.Series(nids)
    thr = float(threshold)

    # bound the per-chunk hay token matrix to ~32 MB float32
    chunk = max(1, 8_000_000 // max(len(vocab), 1))

    def kernel(batches):
        for pdf in batches:
            o_n, o_h, o_c = [], [], []
            if len(pdf) and len(nids):
                ids = pdf["_hid"]
                toks = pdf["_ts"]
                for s in range(0, len(pdf), chunk):
                    e = min(s + chunk, len(pdf))
                    D = np.zeros((e - s, len(vocab)), dtype=np.float32)
                    ok = np.zeros(e - s, dtype=bool)
                    for j in range(s, e):
                        hid, ts = ids.iloc[j], toks.iloc[j]
                        # nullable numeric ids arrive as NaN floats
                        if hid is None or pd.isna(hid):
                            continue
                        ok[j - s] = True
                        if ts is not None:
                            for t in ts:
                                k = tok_idx.get(t)
                                if k is not None:
                                    D[j - s, k] = 1.0
                    # exact: 0/1 sums < 2^24 in float32; the division
                    # is the same int->double divide as try_divide
                    inter = (D @ nmask.T).astype(np.float64)
                    cont = inter / nlen[None, :]
                    hit_j, hit_i = np.nonzero((cont >= thr)
                                              & ok[:, None])
                    o_h.extend(ids.iloc[hit_j + s].tolist())
                    o_n.extend(nids_arr.iloc[hit_i].tolist())
                    o_c.extend(cont[hit_j, hit_i].tolist())
            yield pd.DataFrame({"needle_id": o_n, "hay_id": o_h,
                                "containment": o_c})

    from pyspark.sql.types import DoubleType, StructField, StructType
    schema = StructType([StructField("needle_id", nid_type),
                         StructField("hay_id", hid_type),
                         StructField("containment", DoubleType())])
    return hay.mapInPandas(kernel, schema)


def containment_join(needles: DataFrame, haystack: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     threshold: float = 0.5,
                     lowercase: bool = True,
                     engine: str = "auto") -> DataFrame:
    """EXACT asymmetric set-containment join: pairs where
    ``|needle ∩ hay| / |needle| ≥ t`` — the excerpt/quote-detection case
    symmetric Jaccard misses (a benchmark question QUOTED inside a long
    document has tiny Jaccard but containment ≈ 1).

    Prefix lemma, one-sided: if containment ≥ t, the needle's rarest
    ``|A| − ⌈t·|A|⌉ + 1`` tokens cannot ALL miss the hay (else
    ``|A∩B| < t·|A|``), so candidates = needle-PREFIX tokens equi-joined
    against the hay's full distinct-token postings — recall 1, and only
    the needle side pays the prefix machinery. Verify is exact on the
    candidate pairs. Returns ``(needle_id, hay_id, containment)``.
    Token frequencies for the rarest-first order come from the HAY side
    (the side that determines collision cost); needle tokens absent from
    the hay sort first (frequency 0 — maximally selective).

    Engines (r12 opt, guide §4.2 — the cosine_topk pattern): needles
    are excerpts/probes, a BOUNDED set by use. ``auto`` collects them
    below ``SPARK_GRAFT_CONTAINMENT_LOCAL_MAX_NEEDLES`` (default 5k,
    with a needle×token-matrix byte guard) and computes exact
    containment in ONE map-only Arrow kernel over the hay scan —
    per-batch boolean token matrices against the broadcast needle
    masks, one BLAS product per batch. Only needle tokens index the
    matrix, so the kernel is exact with zero blocking: for t > 0 a
    qualifying pair shares a token by definition, so the output set is
    identical to the prefix engine's (parity-tested). The measured
    motivation: on a degenerate 31-token-vocabulary corpus the prefix
    filter cannot prune (every posting is ~the corpus), and the
    candidate join + array_intersect verify paid ~10 s for work one
    matrix product does in milliseconds; on REAL vocabulary the kernel
    also skips the freq/sort/explode machinery entirely. Above the cap
    (or ``engine="join"``) the prefix-filter join runs unchanged —
    recall-1 blocking is exactly what an UNBOUNDED needle set needs.
    """
    import os

    from .text import tokens

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if engine not in ("auto", "kernel", "join"):
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")

    def tokset(df, alias):
        text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        return df.select(F.col(id_col).alias(alias),
                         F.array_distinct(tokens(text)).alias("_ts"))

    if engine != "join":
        cap = local_cap("SPARK_GRAFT_CONTAINMENT_LOCAL_MAX_NEEDLES", 5000)
        ndl_all = tokset(needles, "_nid")
        head = (ndl_all.collect() if engine == "kernel"
                else ndl_all.limit(cap + 1).collect())
        if engine == "kernel" or len(head) <= cap:
            out = _containment_kernel(tokset(haystack, "_hid"), head,
                                      threshold,
                                      needles.schema[id_col].dataType,
                                      haystack.schema[id_col].dataType)
            if out is not None:
                return out

    hay = tokset(haystack, "_hid").persist()
    hay_post = hay.select("_hid", F.explode("_ts").alias("_tok"))
    freq = hay_post.groupBy("_tok").agg(F.count(F.lit(1)).alias("_f"))

    ndl = tokset(needles, "_nid").persist()
    ndl_tok = ndl.select("_nid", F.explode("_ts").alias("_tok"))
    ordered = (ndl_tok.join(freq, "_tok", "left")
               .groupBy("_nid")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.coalesce("_f", F.lit(0)).alias("_f"),
                            F.col("_tok").alias("_tok")))).alias("_st"))
               .select("_nid",
                       F.expr("transform(_st, x -> x._tok)").alias("_os")))
    n = F.size("_os")
    plen = (n - (-F.floor(-(F.lit(float(threshold)) * n))).cast("int")
            + F.lit(1))
    pref = (ordered.filter(n > 0)
            .select("_nid", F.explode(F.slice("_os", 1, plen)).alias("_tok")))
    cand = (pref.join(hay_post, "_tok")
            .select("_nid", "_hid").distinct())
    na = ndl.select(F.col("_nid").alias("_ni"), F.col("_ts").alias("_nt"))
    ha = hay.select(F.col("_hid").alias("_hi"), F.col("_ts").alias("_ht"))
    out = (cand.join(na, F.col("_nid") == F.col("_ni"))
           .join(ha, F.col("_hid") == F.col("_hi"))
           .withColumn("containment", F.try_divide(
               F.size(F.array_intersect("_nt", "_ht")),
               F.size("_nt")).cast("double"))
           .filter(F.col("containment") >= threshold)
           .select(F.col("_nid").alias("needle_id"),
                   F.col("_hid").alias("hay_id"), "containment"))
    return _track_cached(out, [hay, ndl])


def dedup_savings_report(df: DataFrame, group_col: str,
                         id_col: str = "doc_id", text_col: str = "text",
                         chars_col: str = "n_chars") -> DataFrame:
    """What exact dedup would SAVE, per group, before running it — the
    capacity-planning read-out on top of :func:`exact_duplicate_groups`:
    ``(group, n_docs, n_dropped, chars_total, chars_dropped,
    savings_rate)`` where a doc is dropped iff it is not its content
    fingerprint's min-id canonical (duplicates across groups charge the
    DUPLICATE's group — the group holding redundant bytes pays).

    One fingerprint projection, one fp-keyed window for the canonical
    min (same shuffle key as the dedup itself), one groupBy(group).
    ``savings_rate`` = dropped chars / total chars (4 decimals; null
    for a group with zero chars).
    """
    from pyspark.sql import Window

    rows = df.select(F.col(group_col).alias("group"), F.col(id_col),
                     fingerprint(text_col).alias("_fp"),
                     F.coalesce(F.col(chars_col).cast("long"), F.lit(0))
                     .alias("_ch"))
    keep = F.min(id_col).over(Window.partitionBy("_fp"))
    scored = rows.withColumn("_drop", F.col(id_col) != keep)
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (scored.groupBy("group")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.col("_drop").cast("long")).cast("long")
                 .alias("n_dropped"),
                 F.sum("_ch").cast("long").alias("chars_total"),
                 F.sum(F.when(F.col("_drop"), F.col("_ch"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("chars_dropped"))
            .withColumn("savings_rate",
                        F.when(F.col("chars_total") > 0,
                               r4(F.col("chars_dropped").cast("double")
                                  / F.col("chars_total").cast("double")))))


def corpus_overlap(a: DataFrame, b: DataFrame, text_col: str = "text",
                   k: int = 3) -> DataFrame:
    """EXACT corpus-level shingle overlap between two corpora → one row
    ``(shingles_a, shingles_b, shingles_common, jaccard,
    containment_a_in_b, containment_b_in_a)`` — the corpus-pair answer
    to "how much of snapshot B is already in snapshot A" (crawl-refresh
    dedup budgeting) and "how contaminated is this training mix by that
    eval set" at the AGGREGATE level, before the per-document
    ``decontaminate`` pass runs.

    Distinct word-``k``-shingles per corpus FIRST (the same collapse
    :func:`exact duplicate <.text.fingerprint>` dedup rides: after
    ``distinct``, volume is bounded by vocabulary, not corpus size).
    Side-tagged union → one ``(shingle, side)`` distinct → one per-
    shingle side-presence aggregate: every count comes from a SINGLE
    action over a single scan of each corpus — no persisted distinct
    tables (at 100 TB the cached shingle vocabulary is real memory), no
    join, no document pairs, exact by construction. Every step shuffles
    on the shingle hash; the MinHash corpus sketch is unnecessary
    because the distinct-shingle table is already the collapsed
    representation.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _sh(df, side):
        return df.select(F.lit(side).alias("_side"), F.explode(
            word_shingles(F.col(text_col), k)).alias("s"))

    tagged = _sh(a, 0).unionByName(_sh(b, 1)).distinct()
    per = tagged.groupBy("s").agg(
        F.max((F.col("_side") == 0).cast("int")).alias("_a"),
        F.max((F.col("_side") == 1).cast("int")).alias("_b"))
    (row,) = per.agg(F.sum("_a").alias("na"), F.sum("_b").alias("nb"),
                     F.sum(F.col("_a") * F.col("_b")).alias("c")).collect()
    na = int(row["na"] or 0)
    nb = int(row["nb"] or 0)
    common = int(row["c"] or 0)
    union = na + nb - common
    spark = a.sparkSession
    # half-up at 4 decimals (Python round() is half-EVEN; Spark/DuckDB
    # ROUND are half-up — the oracle compares these scalars, so match)
    r4 = lambda x: (math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
                    if x is not None else None)
    return spark.createDataFrame(
        [(na, nb, common,
          r4(common / union) if union else None,
          r4(common / na) if na else None,
          r4(common / nb) if nb else None)],
        "shingles_a long, shingles_b long, shingles_common long, "
        "jaccard double, containment_a_in_b double, "
        "containment_b_in_a double")


def lsh_recall_report(candidates: DataFrame, docs: DataFrame,
                      threshold: float, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      a_col: str = "a_id", b_col: str = "b_id",
                      truth_block_col: Optional[str] = None,
                      allow_quadratic_docs: int = 50_000) -> DataFrame:
    """Measure an LSH/blocking candidate generator against EXACT ground
    truth → one row ``(n_candidates, n_true, n_hit, recall, precision)``
    where truth = all pairs with exact word-k-gram Jaccard ≥
    ``threshold``. THE quality dial for any banding config: banding
    theory gives the catch probability at a given J, this measures it on
    YOUR corpus — run it on a sample before trusting a (bands, rows)
    choice at 100 TB.

    Ground truth is exact and therefore quadratic: pass
    ``truth_block_col`` (e.g. a language or cluster column) to bound the
    all-pairs comparison to within blocks — on a sample corpus leave it
    None. The candidate set is compared AS A PAIR SET (unordered,
    deduped); precision counts candidates that verify at ≥ threshold.

    100-TB recipe: NEVER run the unblocked path on a full corpus — the
    all-pairs truth join is n² by definition. Either (a) measure on a
    deterministic sample (``docs.filter(xxhash64(id) % K == 0)`` keeps
    pair statistics unbiased within the sample) or (b) pass
    ``truth_block_col`` so truth is Σ block² not corpus². As a guard,
    the unblocked path counts docs first and raises above
    ``allow_quadratic_docs`` (default 50k ≈ 1.25B comparisons); raise
    the ceiling explicitly only when you mean it.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if truth_block_col is None:
        n_docs = docs.count()  # cheap scalar vs an accidental n² join
        if n_docs > allow_quadratic_docs:
            raise ValueError(
                f"lsh_recall_report: unblocked exact ground truth over "
                f"{n_docs} docs is an all-pairs join ({n_docs}² /2 "
                f"comparisons). Sample the corpus, pass truth_block_col, "
                f"or raise allow_quadratic_docs explicitly.")
    sh = docs.select(F.col(id_col).alias("_id"),
                     word_shingles(F.col(text_col), k).alias("_sh"))
    if truth_block_col is not None:
        sh = sh.join(docs.select(F.col(id_col).alias("_id"),
                                 F.col(truth_block_col).alias("_blk")),
                     "_id")
    # Exact truth WITHOUT materializing all pairs of shingle arrays: for
    # threshold > 0 a qualifying pair must share >= 1 shingle, so the
    # inverted-index self-join enumerates exactly the pairs with a
    # non-zero intersection and counts |A ∩ B| as it goes; sizes join in
    # and |A ∪ B| = |A| + |B| − |A ∩ B| (shingle sets are distinct).
    # Same values as the array crossJoin, but the shuffle carries only
    # (a, b) id pairs and the pair volume is Σ shingle-df² instead of
    # n²·s̄ array comparisons. Still quadratic in the worst case (a
    # shingle shared by every doc) — the n_docs guard above stays.
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    inv = sh.select("_id", *(["_blk"] if truth_block_col is not None else []),
                    F.explode("_sh").alias("_g"))
    ja = inv.select(F.col("_id").alias("_a"), "_g",
                    *([F.col("_blk").alias("_ba")]
                      if truth_block_col is not None else []))
    jb = inv.select(F.col("_id").alias("_b"), "_g",
                    *([F.col("_blk").alias("_bb")]
                      if truth_block_col is not None else []))
    onp = ja.join(jb, "_g").filter(F.col("_a") < F.col("_b"))
    if truth_block_col is not None:
        # blocked truth considers only same-block pairs; null blocks drop,
        # matching the previous inner equi-join on the block column
        onp = onp.filter(F.col("_ba") == F.col("_bb"))
    inter = onp.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_i"))
    truth = (inter
             .join(sizes.select(F.col("_id").alias("_a"),
                                F.col("_n").alias("_na")), "_a")
             .join(sizes.select(F.col("_id").alias("_b"),
                                F.col("_n").alias("_nb")), "_b")
             .filter((F.col("_i")
                      / (F.col("_na") + F.col("_nb") - F.col("_i")))
                     >= float(threshold))
             .select("_a", "_b"))
    cand = (candidates.select(
        F.least(F.col(a_col), F.col(b_col)).alias("_a"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("_b"))
        .filter(F.col("_a") != F.col("_b")).distinct())
    # one full-outer join + one aggregate: all three counts from a
    # single action, no persisted pair tables (corpus_overlap's shape)
    joined = (truth.withColumn("_t", F.lit(1))
              .join(cand.withColumn("_c", F.lit(1)), ["_a", "_b"], "full"))
    (row,) = joined.agg(
        F.sum("_t").alias("nt"), F.sum("_c").alias("nc"),
        F.sum(F.col("_t") * F.col("_c")).alias("nh")).collect()
    n_true = int(row["nt"] or 0)
    n_cand = int(row["nc"] or 0)
    n_hit = int(row["nh"] or 0)
    # half-up at 4 decimals to match Spark/DuckDB ROUND (see corpus_overlap)
    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    return docs.sparkSession.createDataFrame(
        [(n_cand, n_true, n_hit,
          r4(n_hit / n_true) if n_true else None,
          r4(n_hit / n_cand) if n_cand else None)],
        "n_candidates long, n_true long, n_hit long, "
        "recall double, precision double")


# ------------------------------------------------------- incremental dedup

def minhash_index_table(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 64,
                       bands: int = 16, shingle_k: int = 3,
                       seed: int = 42) -> DataFrame:
    """The PERSISTABLE LSH index for incremental dedup: one row per
    (doc, band) — ``(id_col, band, bh)``. A continuous-crawl pipeline
    writes this table once per snapshot (it is a few ints per doc, two
    orders smaller than text) and every later delta joins against it
    WITHOUT recomputing old documents' signatures. Shingle-less docs
    (shorter than ``shingle_k`` tokens) emit nothing — same banding
    discipline as :func:`minhash_lsh_candidates`."""
    sig = (with_minhash_signature(df, text_col, num_perm, shingle_k,
                                  seed)
           .filter(F.size("_shingles") > 0))
    band_structs = minhash_band_structs(num_perm, bands)
    return (sig.select(F.col(id_col),
                       F.explode(band_structs).alias("bs"))
            .select(id_col, F.col("bs.band").alias("band"),
                    F.col("bs.bh").alias("bh")))


def incremental_minhash_candidates(new_docs: DataFrame,
                                   index: DataFrame = None,
                                   id_col: str = "doc_id",
                                   text_col: str = "text", *,
                                   num_perm: int = 64, bands: int = 16,
                                   shingle_k: int = 3,
                                   seed: int = 42) -> DataFrame:
    """Candidate near-dup pairs for TODAY'S DELTA against a standing
    corpus — the production shape of continuous-crawl dedup:

    - ``new-vs-index``: the delta's banded hashes equi-join the
      persisted :func:`minhash_index_table` on ``(band, bh)`` — the
      standing corpus is NEVER re-shingled or re-hashed;
    - ``new-vs-new``: the usual banded self-join within the delta.

    Returns distinct ``(a_id, b_id, source)`` with ``a_id < b_id`` and
    ``source`` ∈ ('index', 'new'). The caller appends the delta's band
    table to the index for the next snapshot (a pure union — the index
    is monotone). With ``index=None`` this degrades to plain
    within-delta candidates (first snapshot).

    At 100 TB: the delta is small; the only large operand is the index
    side of one hash equi-join, which is exactly the shape Spark
    shuffles well — and with the index bucketed by ``bh`` on disk the
    join is shuffle-free on the big side."""
    new_banded = minhash_index_table(new_docs, id_col, text_col,
                                    num_perm, bands, shingle_k, seed
                                    ).persist()
    ln, rn = new_banded.alias("l"), new_banded.alias("r")
    nn = (ln.join(rn, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bh") == F.col("r.bh"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
          .select(F.col(f"l.{id_col}").alias("a_id"),
                  F.col(f"r.{id_col}").alias("b_id"),
                  F.lit("new").alias("source")))
    out = nn
    if index is not None:
        ix = index.alias("ix")
        ni = (ix.join(new_banded.alias("nb"),
                      (F.col("ix.band") == F.col("nb.band"))
                      & (F.col("ix.bh") == F.col("nb.bh"))
                      # a re-crawled id must not pair with itself
                      & (F.col(f"ix.{id_col}")
                         != F.col(f"nb.{id_col}")))
              .select(F.least(F.col(f"ix.{id_col}"),
                              F.col(f"nb.{id_col}")).alias("a_id"),
                      F.greatest(F.col(f"ix.{id_col}"),
                                 F.col(f"nb.{id_col}")).alias("b_id"),
                      F.lit("index").alias("source")))
        out = ni.unionByName(nn)
    # a pair can surface from several bands (and, for re-crawls, from
    # both branches): one row wins, 'index' preferred so provenance is
    # deterministic. The output is persisted (r12 opt): it is tiny
    # (candidate pairs) and every caller reads it at least twice —
    # exact-Jaccard verify, then a join-back for provenance — which
    # otherwise re-runs the index-side signature pipeline per read.
    dedup = (out.groupBy("a_id", "b_id")
             .agg(F.min("source").alias("source"))).persist()
    return _track_cached(dedup, [new_banded, dedup])
