"""Deduplication for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design (the whole point at 100 TB):

- Exact dedup is one hash-shuffle on a 16-byte digest — never on the
  raw text (shuffling full documents would move the whole corpus).
- Near-dup never does an all-pairs comparison. MinHash/SimHash banding
  turns O(n²) into "explode to (band, key) → shuffle on band key →
  pairs only within colliding buckets". Candidate verification
  (exact Jaccard / Hamming) runs only on bucket collisions.
- Joins, banding, and verification are native Column expressions — no
  driver-side loops. The MinHash signature itself is an Arrow-batched
  numpy pandas-UDF: Spark's higher-order array functions evaluate
  interpreted (outside codegen), and the measured gap is ~6× (see
  minhash_signature).
- Pairwise dedup here keeps the min-representative of each PAIR;
  true transitive clusters (A~B, B~C => {A,B,C}) are one call away in
  operators/components.py (iterative min-label propagation over the
  candidate-pair edge list, which is vastly smaller than the corpus).
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from exosql_spark.cache import managed_persist_disk
from pyspark.sql import types as T

from exosql_spark.operators.text import normalize_text

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ("134217728", "134217728b", "128m",
    "128MB") into bytes."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
        m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw)
        return int(m.group(1)) * _SIZE_SUFFIX.get(m.group(2) or "b", 1) if m else default
    except Exception:
        return default


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread compute-heavy narrow stages across all cores: a tiny
    single-file input arrives as 1 partition and would serialize the
    expensive signature math. At real scale inputs already have ≥
    defaultParallelism splits and this is a no-op.

    Smallness is decided from the optimizer's size estimate (one JVM
    call, no job, no RDD conversion — ``.rdd.getNumPartitions()`` would
    force analysis plus a Python↔JVM round-trip and read the pre-AQE
    split count). Inputs below one scan-split per core get an explicit
    round-robin spread; anything larger already parallelizes."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df.repartition(target)  # estimate unavailable: spread defensively
    if size < target * _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20):
        return df.repartition(target)
    return df

def _cap_buckets(
    banded: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket`` members — the
    quadratic-bucket safety valve shared by the MinHash / SimHash /
    sign-LSH banding joins (a bucket of n emits n(n-1)/2 pairs; buckets
    far above the expected near-dup group size are mass-duplicated
    boilerplate exact dedup should have removed). One aggregation on
    the band key; None = no cap."""
    if max_bucket is None:
        return banded
    small = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select(*keys)
    )
    return banded.join(small, keys)


# --------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------


def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct (normalized) content: the kept id, copy count,
    and the content digest. Shuffles 16-byte digests, not documents."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop exact (normalized) duplicates, keeping the min-id row.

    No broadcast hint on the keep set: it is one id per DISTINCT
    document — proportional to the corpus, unbounded at 100 TB. AQE
    broadcasts it anyway whenever the runtime size is small."""
    keep = exact_groups(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def fingerprint(text_col: str) -> F.Column:
    return F.md5(normalize_text(text_col))


# --------------------------------------------------------------------
# SQL-text expression builders (r18 optimization round, guide §1.2)
#
# Composing these trees through the Column API costs one py4j round
# trip per node (~0.17 ms each on this box); the banding/shingle
# builders below run to hundreds of nodes and are re-built on EVERY
# query construction, so the bench — which times build+count per run —
# paid ~0.4–0.9 s/run of pure driver-side socket round trips on the
# dedup-family entries (measured with cProfile: 5,402 round trips per
# dedup_incremental_batch build). Rendering each builder as ONE
# F.expr(sql_text) collapses that to a single round trip. The SQL
# parses to the IDENTICAL expression tree (same analyzed plan, same
# results — pinned by TestSqlTextBuilderEquivalence), so this changes
# nothing downstream; it is the same fix the multimodal header probes
# landed earlier this round.
# --------------------------------------------------------------------


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


#: normalize_text (lower → strip punct → collapse ws → trim) as a SQL
#: fragment — the doubled backslashes survive SQL string-literal
#: unescaping to reach the regex engine as ``[^\w\s]`` / ``\s+``.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^\\\\w\\\\s]', ''),"
    " '\\\\s+', ' '))"
)

#: tokens(normalize_text(c)): whitespace-split, empties dropped.
_TOKS_SQL = "filter(split(trim(" + _NORM_SQL + "), '\\\\s+'), t -> t != '')"


# --------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# --------------------------------------------------------------------


def shingles(text_col: str, k: int = 3) -> F.Column:
    """Distinct k-word shingles of the normalized text. Documents shorter
    than k words contribute their whole token sequence as one shingle.

    The token array is let-bound as a lambda variable (the
    ``transform(array(x), ...)​[0]`` encoding) so the regex-heavy
    tokenize subtree evaluates ONCE per row — referenced naively in
    the slice lambda it would re-inline per shingle (Catalyst has no
    CSE across array elements; measured 6× on the shingle pass).

    Built as ONE SQL-text expression (r18 — see the block comment at
    `_sql_ident`): the Column-API form of this tree cost ~0.1 s of py4j
    round trips per call, re-paid on every query build. Equivalence
    with the Column form is pinned by TestSqlTextBuilderEquivalence."""
    if not isinstance(text_col, str):
        raise TypeError("shingles() takes a column NAME (str)")
    toks = _TOKS_SQL.format(c=_sql_ident(text_col))
    # null/empty text → empty shingle set (not [NULL])
    return F.expr(
        f"transform(array({toks}), toks -> "
        "case when size(toks) > 0 then "
        f"array_distinct(case when size(toks) >= {k} then "
        f"transform(sequence(1, size(toks) - {k - 1}), i -> "
        f"array_join(slice(toks, i, {k}), ' ')) "
        "else array(array_join(toks, ' ')) end) "
        "else cast(array() as array<string>) end)[0]"
    )


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Exact Jaccard similarity of two string arrays (assumed distinct)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


# --------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------


_MAX_LONG = (1 << 63) - 1
_MERSENNE31 = (1 << 31) - 1


def _splitmix64(h: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer. crc32 is linear (xor-
    homomorphic), so packed-crc token hashes have correlated bits
    across similar strings — fatal for SimHash, whose per-bit sign
    sums assume independent bits. One multiply-xor-shift cascade
    restores avalanche; everything stays in uint64 wraparound."""
    h = h.copy()
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def _uh_params(num_hashes: int, seed: int = 1234567) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing mod 2^31-1."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, _MERSENNE31)), int(rng.integers(0, _MERSENNE31)))
        for _ in range(num_hashes)
    ]


def minhash_signature(text_col: str, num_hashes: int = 64, k: int = 3) -> F.Column:
    """num_hashes-wide MinHash signature, Arrow-vectorized.

    The signature math (per-shingle base hash → ``(a_i·h + b_i) mod
    2^31-1`` → column-wise min) runs in numpy inside a pandas UDF.
    This is a *measured* exception to "prefer built-in Columns": the
    pure-expression formulation lives in
    `aggregate`/`zip_with`/`transform`, which Spark evaluates
    interpreted — higher-order array functions never enter whole-stage
    codegen — and allocates two 64-long arrays per shingle per row.
    At sf0.1 (5k docs × ~50 shingles) the expression path takes 3.8s
    vs 0.6s for this one; the gap widens with document length. The
    UDF is embarrassingly parallel (pure map, Arrow-batched, no
    state), so it scales to 100 TB exactly as the scan does.

    Shingling mirrors the JVM side (`normalize_text` → whitespace
    tokens → distinct k-word shingles) so signatures stay consistent
    with the exact-Jaccard verification done in Column space."""
    params = _uh_params(num_hashes)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    punct = re.compile(r"[^\w\s]")
    empty_sig = np.full(num_hashes, _MAX_LONG, dtype=np.int64)

    def sig_batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = punct.sub("", (t or "").lower()).split()
            if not words:
                out.append(empty_sig)
                continue
            if len(words) < k:
                grams = {" ".join(words)}
            else:
                grams = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
            h = (
                _splitmix64(
                    np.fromiter(
                        (zlib.crc32(g.encode()) for g in grams),
                        dtype=np.uint64,
                        count=len(grams),
                    )
                ).astype(np.int64)
                & _MAX_LONG
            ) % _MERSENNE31
            out.append(((h[:, None] * a_vec + b_vec) % _MERSENNE31).min(axis=0))
        return pd.Series(out)

    udf = F.pandas_udf(sig_batch, T.ArrayType(T.LongType()))
    return udf(F.col(text_col) if isinstance(text_col, str) else text_col)


def signature_bands(sig: DataFrame, num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """(_id, band, key) band-key frame from an (_id, _sig) signature
    frame — the storable LSH index shape, shared by the self-join
    candidate path (:func:`minhash_candidates`) and the new-vs-reference
    path (:mod:`exosql_spark.operators.incremental`).

    xxhash64 hashes the long-array slice directly (complex-type
    support) — no per-band string building; the shuffle/storage key
    stays 8 bytes. At corpus scale this frame is what you persist as
    the signature index: parquet partitioned by ``band`` and bucketed
    by ``key``, so each incremental batch joins against it
    shuffle-free on the ref side."""
    rows_per_band = num_hashes // bands
    # One SQL-text expr instead of a bands-wide struct/xxhash64/slice
    # listcomp (r18): the Column-API form cost ~0.2 s of py4j round
    # trips per call and is re-built on every query construction.
    # Identical expression tree; pinned by TestSqlTextBuilderEquivalence.
    parts = ", ".join(
        f"named_struct('band', {b}, 'key', "
        f"xxhash64(slice(_sig, {b * rows_per_band + 1}, {rows_per_band})))"
        for b in range(bands)
    )
    return sig.select(
        "_id", F.expr(f"explode(array({parts}))").alias("bk")
    ).select("_id", "bk.band", "bk.key")


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    signatures: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH-banded candidate pairs (id_a < id_b, band-collision count).

    rows_per_band = num_hashes // bands sets the similarity threshold
    s ≈ (1/bands)^(1/rows_per_band) — 16 bands × 4 rows ≈ 0.5.

    Plan shape: map (signature) → explode bands (×bands rows, but each
    row is just (band_key, id)) → shuffle on band_key → within-bucket
    self-join → dedup pairs. No all-pairs stage anywhere.

    ``signatures``: optional precomputed ``(_id, _sig)`` frame (e.g. a
    column the caller already persisted alongside other per-doc
    features — see pipeline.curate_corpus). The caller owns its
    caching; when omitted it is computed and persisted here.

    ``max_bucket``: the quadratic-bucket safety valve at corpus scale.
    A (band, key) bucket of n docs emits n(n-1)/2 pairs; buckets far
    larger than the expected near-dup group size are almost always
    mass-duplicated boilerplate that exact dedup should have removed
    — cap them (one extra aggregation on the band key; buckets above
    the cap are dropped whole, trading recall on those groups for a
    bounded join). None = no cap (the default: exact-dedup-first
    pipelines don't need one).
    """
    if signatures is not None:
        sig = signatures.select("_id", "_sig")
    else:
        # Persist the signature: (a) the self-join below reads it twice;
        # (b) without a materialization barrier Catalyst's projection
        # collapse would inline the 64-hash expression into every band
        # slice (≈16× recompute). At 100 TB you'd checkpoint signatures
        # to parquet for exactly the same reason.
        sig = (
            _parallelize(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))
            .select("_id", minhash_signature("_t", num_hashes, k).alias("_sig"))
            .transform(managed_persist_disk)
        )
    banded = _cap_buckets(
        signature_bands(sig, num_hashes, bands), ["band", "key"], max_bucket
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_band_hits"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    signatures: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs verified with exact Jaccard ≥ threshold.
    Columns: id_a, id_b, jaccard_sim."""
    cands = minhash_candidates(
        df, text_col, id_col, num_hashes, bands, k,
        signatures=signatures, max_bucket=max_bucket,
    ).transform(managed_persist_disk)
    # verify only docs that appear in some candidate pair: semi-join
    # reduction keeps the (expensive) shingle recompute proportional to
    # candidates, not corpus
    cand_ids = (
        cands.select(F.explode(F.array("id_a", "id_b")).alias("_id")).distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .join(cand_ids, "_id", "left_semi")
        .select("_id", shingles("_t", k).alias("_sh"))
    )
    return (
        cands.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    **kw,
) -> DataFrame:
    """Drop near-duplicates: every doc that matched a lower-id doc goes.
    (Min-representative convention, not full transitive closure.)"""
    pairs = minhash_dedup_pairs(df, text_col, id_col, threshold, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------
# n-gram Jaccard (exact, bucketed by MinHash LSH so it scales)
# --------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """Exact k-gram Jaccard over LSH candidates. More bands (32×2) than
    the dedup default → lower collision threshold ≈ 0.18, so moderately
    similar pairs still reach exact verification."""
    return minhash_dedup_pairs(
        df, text_col, id_col, threshold, num_hashes=num_hashes, bands=bands, k=k
    )


def jaccard_index_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.3,
    max_df: int = 100,
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT all-pairs k-gram Jaccard — the deterministic complement to
    the probabilistic LSH paths (and hence exactly oracle-checkable,
    which minhash/simhash cannot be).

    Both paths: explode shingles → drop stop-shingles (document
    frequency > ``max_df`` — they fan any index join out quadratically
    while carrying no similarity signal) → candidate generation →
    exact Jaccard. Similarity is over the non-stop shingle sets, so
    sizes are computed after the frequency filter — self-consistent
    semantics on both engines.

    ``prefix_filter=True`` (default) is the AllPairs/PPJoin-style
    lossless prune (Bayardo et al., WWW'07; Chaudhuri SSJoin): under a
    global token order (ascending document frequency, ties by hash),
    a pair with Jaccard ≥ t shares its globally-smallest common
    shingle inside BOTH docs' prefixes of length n − ⌈t·n⌉ + 1 — if it
    didn't, all ≥ ⌈t·n⌉ common shingles would sit in the suffix of
    length ⌈t·n⌉ − 1. So only prefixes are indexed/joined: candidate
    cost collapses from Σ df² over all surviving shingles to Σ df²
    over the RAREST ~(1−t)·n per doc, precisely the tokens with small
    df. The prefix threshold backs off by 1e-4 because the final
    filter keeps pairs whose ROUNDED Jaccard ≥ t (a true J of
    t − 0.00004 still rounds in — the prune must not lose it).
    On top of the prefix prune, PPJoin's positional and length
    filters (Xiao et al., WWW'08 — also lossless, argument at the
    filter site below) drop collision rows whose position already
    caps the overlap below threshold, BEFORE the candidate distinct:
    measured at the 100× scale point this is what keeps the verify
    join linear (BENCH_SCALING.json, round 8).
    Verification recomputes exact Jaccard from the full (sorted)
    per-doc hash arrays via array_intersect — doc-size-bounded rows,
    never a corpus-sized state.

    ``prefix_filter=False`` keeps the flat inverted-index join
    (intersection counted from the index itself): simpler plan, cost
    Σ df² over ALL surviving shingles — the right choice only when
    ``threshold`` is so low the prefix is nearly the whole doc.

    Scale: no all-pairs stage in either path; shuffles move (hash, id)
    longs only.
    """
    import math

    from exosql_spark.operators.text import _token_hash

    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(text_col, k)).alias("_s"),
    ).select("_id", _token_hash(F.col("_s")).alias("_h"))
    # stop-shingle removal: df > max_df
    # the regex-heavy shingle/hash pass feeds its own df-aggregation AND
    # the downstream joins — persist it once or Catalyst re-executes the
    # explode per consumer (df-agg, size-agg, both self-join sides)
    sh = sh.transform(managed_persist_disk)
    # SQL-text column programs from here down (r18 — block comment at
    # _sql_ident): the Column-API build of this operator cost 1,227
    # py4j round trips (~0.5 s/run, ≈ the entry's whole compute at
    # sf0.1); same trees, pinned by TestSqlTextBuilderEquivalence and
    # the exact dedup_jaccard_exact_pairs oracle.
    dfreq = sh.groupBy("_h").agg(F.expr("count(1) AS _df"))
    if not prefix_filter:
        sh = sh.join(dfreq.where(f"_df <= {int(max_df)}").select("_h"), "_h")
        sizes = sh.groupBy("_id").agg(F.expr("count(1) AS _n"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, F.expr("a._h = b._h AND a._id < b._id"))
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.expr("count(1) AS _inter"))
        )
        na = sizes.selectExpr("_id AS id_a", "_n AS _na")
        nb = sizes.selectExpr("_id AS id_b", "_n AS _nb")
        return (
            inter.join(na, "id_a")
            .join(nb, "id_b")
            .selectExpr(
                "id_a",
                "id_b",
                "round(_inter / (_na + _nb - _inter), 4) AS jaccard_sim",
            )
            .where(f"jaccard_sim >= {float(threshold)!r}D")
        )

    # ---- prefix-filtered path ----
    t_prefix = max(0.0, threshold - 1e-4)
    t_sql = f"{float(t_prefix)!r}D"
    docs = (
        sh.join(dfreq.where(f"_df <= {int(max_df)}"), "_h")
        .groupBy("_id")
        .agg(F.expr("array_sort(collect_list(struct(_df, _h))) AS _sorted"))
        .selectExpr(
            "_id",
            "transform(_sorted, s -> s._h) AS _hs",
            "size(_sorted) AS _n",
        )
        # three consumers: prefix explode + both verification sides
        .transform(managed_persist_disk)
    )
    prefix_len = f"_n - CAST(ceil(_n * {t_sql}) AS INT) + 1"
    # posexplode: the 0-based prefix position rides along for the
    # PPJoin positional filter below (the ubound formula expects
    # 0-based positions)
    pref = docs.selectExpr(
        "_id",
        "_n",
        f"posexplode(slice(_hs, 1, {prefix_len})) AS (_p, _h)",
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin positional + length filters (Xiao et al., WWW'08 — both
    # LOSSLESS): a pair needs overlap o ≥ α = ⌈t/(1+t)·(na+nb)⌉ to
    # reach J ≥ t; a collision at (0-based) prefix positions (pa, pb)
    # caps the overlap at 1 + min(na−pa−1, nb−pb−1), so collisions too
    # deep in both prefixes can never qualify and die BEFORE the
    # distinct + array-verify joins — the verify join is the scale
    # bottleneck (measured at the 100× point: 68 M candidates × ~450 B
    # array payloads dominate the wall), so every candidate pruned
    # here is a row that never shuffles its doc arrays. The length
    # filter (t·nb ≤ na, both orders) is the coarse special case that
    # also prunes unbalanced pairs the position test misses at p=0.
    alpha = (
        f"CAST(ceil({t_sql} / {float(1.0 + t_prefix)!r}D"
        " * (a._n + b._n)) AS INT)"
    )
    ubound = "1 + least(a._n - a._p - 1, b._n - b._p - 1)"
    cands = (
        a.join(b, F.expr("a._h = b._h AND a._id < b._id"))
        .where(
            f"{ubound} >= {alpha}"
            f" AND a._n >= {t_sql} * b._n AND b._n >= {t_sql} * a._n"
        )
        .selectExpr("a._id AS id_a", "b._id AS id_b")
        .distinct()
    )
    da = docs.selectExpr("_id AS id_a", "_hs AS _hs_a", "_n AS _na")
    db = docs.selectExpr("_id AS id_b", "_hs AS _hs_b", "_n AS _nb")
    inter = "size(array_intersect(_hs_a, _hs_b))"
    return (
        cands.join(da, "id_a")
        .join(db, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"round({inter} / (_na + _nb - {inter}), 4) AS jaccard_sim",
        )
        .where(f"jaccard_sim >= {float(threshold)!r}D")
    )


# --------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------

_SIMHASH_BITS = 64


def simhash(text_col: str) -> F.Column:
    """64-bit SimHash over tokens, Arrow-vectorized.

    bit i of the result = sign of Σ_tokens (±1 by token-hash bit i).
    Same measured tradeoff as :func:`minhash_signature`: the
    pure-Column formulation lives in interpreted higher-order
    functions and allocates a 64-long array per token per row — 6.4s
    vs well under 1s at sf0.1. numpy does
    the bit matrix in one broadcastified pass per document. Pure map:
    no shuffle, scales with the scan.

    Tokenization mirrors the JVM `normalize_text`+`tokens` pair; the
    64-bit token hash is two salted crc32s packed together
    (deterministic across processes, unlike Python's `hash`)."""
    punct = re.compile(r"[^\w\s]")
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)

    def simhash_batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = punct.sub("", (t or "").lower()).split()
            if not words:
                out.append(0)
                continue
            h = np.fromiter(
                (
                    (zlib.crc32(w) << 32) | zlib.crc32(w, 0x9E3779B9)
                    for w in (w.encode() for w in words)
                ),
                dtype=np.uint64,
                count=len(words),
            )
            h = _splitmix64(h)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            sums = (bits * 2 - 1).sum(axis=0)
            packed = np.uint64(0)
            for i in np.nonzero(sums > 0)[0]:
                packed |= np.uint64(1) << np.uint64(i)
            out.append(int(packed.astype(np.int64)))
        return pd.Series(out)

    udf = F.pandas_udf(simhash_batch, T.LongType())
    return udf(F.col(text_col) if isinstance(text_col, str) else text_col)


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two 64-bit longs (popcount of xor —
    static unroll; shift amounts must be Python ints)."""
    x = a.bitwiseXOR(b)
    bits = [
        F.shiftrightunsigned(x, i).bitwiseAND(F.lit(1).cast("long"))
        for i in range(_SIMHASH_BITS)
    ]
    out = bits[0]
    for b_ in bits[1:]:
        out = out + b_
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: split the 64-bit hash into
    `bands` chunks; by pigeonhole, any pair within Hamming ≤ bands-1 on
    the whole hash collides on ≥1 exact chunk. Verify with true Hamming.
    Columns: id_a, id_b, hamming. ``max_bucket``: see
    :func:`_cap_buckets`."""
    width = _SIMHASH_BITS // bands
    # persist: self-join reads twice + barrier against projection
    # collapse inlining the 64-bit-sum expression into every band
    sh = (
        _parallelize(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))
        .select("_id", simhash("_t").alias("_sh"))
        .transform(managed_persist_disk)
    )
    banded = sh.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("_sh", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "_sh", "bk.band", "bk.key")
    banded = _cap_buckets(banded, ["band", "key"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming64(F.col("a._sh"), F.col("b._sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def keep_best_representative(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score: F.Column | None = None,
) -> DataFrame:
    """Exact-dup groups keep the highest-quality copy (not the lowest
    id): rank within each content-hash group by score DESC (ties →
    lowest id). The curation refinement over :func:`exact_dedup` —
    when copies differ only in mojibake/truncation the best-scored one
    survives. One window shuffle on the 16-byte digest."""
    from pyspark.sql import Window

    from exosql_spark.operators.text import quality_score

    if score is None:
        df = quality_score(df, text_col)
        score = F.col("quality")
    w = Window.partitionBy(fingerprint(text_col)).orderBy(
        score.desc(), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise source-overlap matrix: for every pair of sources
    (A < B), how many distinct normalized-content fingerprints appear
    in BOTH — the corpus-forensics table that answers "how much of
    CommonCrawl dump N is already in dump M" before choosing what to
    dedup against what.

    Shape: distinct (fingerprint, source) → self equi-join on the
    fingerprint → count per ordered source pair.  One shuffle
    (the distinct) that the self-join reuses (same key), and the join
    only multiplies WITHIN a fingerprint's source set (≤ |sources|
    rows, not copies — duplicates within one source collapsed first),
    so the worst case is |distinct fps| × |sources|², never all-pairs
    of documents.  Output is |sources|² rows — tiny at any corpus
    scale."""
    from exosql_spark.operators.text import fingerprint_md5

    d = df.select(
        fingerprint_md5(F.col(text_col)).alias("fp"),
        F.col(source_col).alias("src"),
    ).distinct()
    pairs = (
        d.alias("a")
        .join(d.alias("b"), "fp")
        .filter(F.col("a.src") < F.col("b.src"))
    )
    return pairs.groupBy(
        F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
    ).agg(F.count(F.lit(1)).alias("n_shared"))
