"""Product quantization (PQ) approximate nearest neighbor — the
compressed-domain similarity path for corpora too large to hold raw
vectors (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Beyond-reference extension (no vector surface in serverboards/exosql);
complements the other ANN paths in :mod:`exosql_spark.operators.
similarity` (sign-LSH, IVF): LSH/IVF prune the CANDIDATE SET, PQ
compresses the VECTORS — at 100 TB you combine them (IVF cells +
PQ codes per cell is classic IVFADC).

How it scales:

- **Training** runs the one k-means core (``clustering._lloyd``)
  once per subspace over sub-vectors of a (driver-bounded) sample —
  codebooks are m × k × (dim/m) floats, e.g. 8 × 16 × 8 = 1 Ki
  floats: they travel as expression literals, never as a join side.
- **Encoding** is a pure map (argmin over k literal centroids per
  subspace): a 64-float vector becomes m small codes — 8 bytes with
  m=8, k≤256 — a 32× compression; the encoded table is what you
  store and scan.
- **Querying** uses asymmetric distance computation (ADC): per query,
  an m × k table of exact subspace distances is computed driver-side
  (tiny: m·k floats per query), shipped as one row of a broadcast
  frame, and each corpus row's approximate distance is m array
  lookups + adds — no decode, no per-row Python. The final
  top-k reuses the two-level partial-then-window pattern of
  ``similarity.cosine_topk`` so no reducer sees a corpus-sized
  partition.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from exosql_spark.operators.clustering import _check_k, _lloyd, _sq_dist, _sq_dists


def collect_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple]:
    """ONE bounded driver collect of ``(id, vector)`` pairs, ordered by
    id — r19 collect consolidation: the PQ query entries used to pay a
    separate scan job per driver-side consumer (codebook training
    sample, query vectors, rerank query frame) even when the consumers
    read overlapping row sets; collect once, slice driver-side. NULL
    vectors are skipped: they have no distance to train on or query
    with."""
    return [
        (r[0], list(r[1]))
        for r in df.where(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    ]


def train_codebooks(
    sample: DataFrame | list[tuple],
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k centroids each: the one
    k-means core (``clustering._lloyd``) on each dim/m-wide slice of a
    bounded ``sample`` (PQ codebooks converge on ~10⁵–10⁶ vectors), so
    it is COLLECTED once and every Lloyd step runs driver-side — no
    k × sub_dim literal trees for Catalyst to re-analyze. Returns
    plain Python lists — the codebooks are literal-sized by
    construction.

    ``sample`` may be pre-collected ``(id, vector)`` rows in id order
    from :func:`collect_vectors` (r19): callers that also need query
    vectors driver-side then pay ONE collect job for both. NULL
    vectors are skipped. Raises ``ValueError`` when m does not divide
    dim, for ``k < 1`` or ``iters < 0``, and for fewer than k non-NULL
    vectors."""
    import numpy as np

    if m < 1 or dim % m:
        raise ValueError(
            f"train_codebooks: m={m} must divide dim={dim} into equal subspaces"
        )
    _check_k(k, iters)
    sub_dim = dim // m
    if not isinstance(sample, list):
        sample = collect_vectors(sample, id_col, vec_col)
    vecs = [v for _, v in sample if v is not None]
    x = np.array(vecs, dtype=np.float64).reshape(len(vecs), dim)
    return [
        _lloyd(x[:, j * sub_dim : (j + 1) * sub_dim], k, iters) for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    encoder: str = "expr",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector as an ``array<int>`` of per-subspace centroid
    ids (argmin squared distance; ties → lower code, deterministic on
    either path). Pure map — fuses into the scan, no shuffle. The
    output (id, pq_code) is the compressed table you persist at scale.

    ``encoder='expr'`` (default) is the no-Python Column formulation;
    'pandas' ships the m×k×sub_dim codebook tensor to Arrow workers
    and encodes with one vectorized numpy argmin per subspace — the
    scale path: the expression tree carries m·k·sub_dim literals
    through Catalyst analysis on every plan build (~seconds at
    8×16×8; prohibitive for k=256 production codebooks)."""
    if encoder == "pandas":
        import numpy as np

        books = np.array(codebooks, dtype=np.float64)  # m × k × sub_dim
        m, _, sd = books.shape

        @F.pandas_udf("array<int>")
        def _enc(v: pd.Series) -> pd.Series:
            import numpy as np

            # NULL vectors → NULL code (the expression path's slice/
            # argmin also yields NULL); non-null rows must be dim-length.
            def encode(x):
                codes = np.empty((len(x), m), dtype=np.int32)
                for j in range(m):
                    codes[:, j] = _sq_dists(x[:, j * sd : (j + 1) * sd], books[j]).argmin(1)
                return codes

            mask = v.notna().to_numpy()
            if mask.all() and len(v):  # hot path: no masking machinery
                return pd.Series(list(encode(np.stack(v.to_numpy()).astype(np.float64))))
            out = pd.Series([None] * len(v), dtype=object)
            if mask.any():
                codes = encode(np.stack(v[mask].to_numpy()).astype(np.float64))
                vals = np.empty(int(mask.sum()), dtype=object)
                vals[:] = list(codes)
                out.iloc[np.flatnonzero(mask)] = vals
            return out

        return df.select(
            F.col(id_col).alias("vec_id"),
            *keep_cols,
            _enc(F.col(vec_col)).alias("pq_code"),
        )

    vec = F.col(vec_col).cast("array<double>")
    sub_dim = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(vec, j * sub_dim + 1, sub_dim)
        best = F.array_sort(
            F.array(
                *[
                    F.struct(_sq_dist(sub, c).alias("d"), F.lit(ci).alias("c"))
                    for ci, c in enumerate(book)
                ]
            )
        )[0]["c"]
        codes.append(best)
    # NULL vector → NULL code (matches the Arrow encoder), not the
    # all-zeros codeword the NULL distances would otherwise sort to.
    return df.select(
        F.col(id_col).alias("vec_id"),
        *keep_cols,
        F.when(
            F.col(vec_col).isNotNull(), F.array(*codes).cast("array<int>")
        ).alias("pq_code"),
    )


def _adc_table(q_vec: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Exact per-subspace squared distances from one query to every
    codeword: m × k floats, computed driver-side (tiny)."""
    sub_dim = len(codebooks[0][0])
    table = []
    for j, book in enumerate(codebooks):
        sub = q_vec[j * sub_dim : (j + 1) * sub_dim]
        table.append(
            [sum((a - b) * (a - b) for a, b in zip(sub, c)) for c in book]
        )
    return table


def _qid_type(queries, query_id_col: str) -> str:
    """Query-id SQL type: from the frame's schema, or ``bigint`` for
    pre-collected row lists (the collect_vectors contract — ids are
    the stored bigint vec_ids; any other id raises ``ValueError``)."""
    if isinstance(queries, list):
        bad = [q[0] for q in queries if type(q[0]) is not int]
        if bad:
            raise ValueError(
                f"pre-collected queries need int ids; got {bad[0]!r} "
                f"({type(bad[0]).__name__})"
            )
        return "bigint"
    return dict(queries.dtypes)[query_id_col]


def _empty_topk(codes: DataFrame, qid_type: str) -> DataFrame:
    """Schema-faithful empty (query_id, vec_id, approx_sq_dist, rank)
    frame for an empty caller-supplied query set (queries is external
    input — an empty frame must not crash the per-query expansion)."""
    return codes.select(
        F.lit(None).cast(qid_type).alias("query_id"),
        "vec_id",
        F.lit(None).cast("double").alias("approx_sq_dist"),
        F.lit(None).cast("int").alias("rank"),
    ).limit(0)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame | list[tuple],
    codebooks: list[list[list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC top-k over the encoded table: per query, approximate squared
    distance = Σ_j table_q[j][pq_code[j]] — m element_at lookups into
    the query's broadcast ADC table per corpus row. ``queries`` is
    collected driver-side (broadcast-sized by the same contract as
    cosine_topk's query set — each query contributes one m×k-float
    row to the broadcast side).

    Two-level top-k (partition-local slice → k-bounded global window),
    same losslessness argument as similarity.cosine_topk — the partial
    keeps rows under the exact global order (dist asc, vec_id asc).
    Columns: query_id, vec_id, approx_sq_dist, rank.

    ``queries`` may be pre-collected ``(id, vector)`` rows
    (:func:`collect_vectors`) — skips this function's own collect."""
    qid_type = _qid_type(queries, query_id_col)
    qs = (
        queries
        if isinstance(queries, list)
        else [
            (r[query_id_col], list(r[vec_col]))
            for r in queries.select(query_id_col, vec_col).collect()
        ]
    )
    if not qs:
        return _empty_topk(codes, qid_type)
    # The per-query ADC tables travel as broadcast DATA (one row per
    # query: query_id + the m×k table), not as literals: folding each
    # table into its own expression branch and unioning the branches
    # made Catalyst re-analyze a large literal tree per query
    # (~2 s/query measured) — as data, the plan has ONE small
    # expression over the adc column and a 1-row-per-query broadcast.
    spark = codes.sparkSession
    adc = F.broadcast(
        spark.createDataFrame(
            [(qid, _adc_table(q_vec, codebooks)) for qid, q_vec in qs],
            f"query_id {qid_type}, adc array<array<double>>",
        )
    )
    dist = None
    for j in range(len(codebooks)):
        lookup = F.element_at(
            F.element_at("adc", j + 1), F.element_at("pq_code", j + 1) + 1
        )
        dist = lookup if dist is None else dist + lookup
    scored = codes.crossJoin(adc).select("query_id", "vec_id", dist.alias("_d"))
    # level 1: partition-local top-k under (dist asc, vec_id asc)
    partial = (
        scored.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid", "query_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("_d").alias("d"), F.col("vec_id").alias("v"))
                    )
                ),
                1,
                k,
            ).alias("_top")
        )
        .select("query_id", F.explode("_top").alias("_t"))
        .select("query_id", F.col("_t.v").alias("vec_id"), F.col("_t.d").alias("_d"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d").asc(), F.col("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("_d", 4).alias("approx_sq_dist"), "rank")
    )


def ivfpq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    encoder: str = "expr",
) -> DataFrame:
    """The IVFADC STORED layout: (vec_id, cell, pq_code) — coarse cell
    from ``centroids`` (argmax dot, same tie rule as
    similarity.ivf_encode) + the m-byte PQ code. This is the whole
    table a billion-scale deployment persists: raw vectors are gone,
    8-ish bytes per row remain. Write it partitioned by cell —
    ``sinks.write_table(enc, path, partition_by=["cell"])`` — so
    probe-time cell filters prune FILES (asserted in
    tests/test_sinks.py for the IVF layout; same scan machinery), and
    pass it back to :func:`ivfpq_topk` via ``encoded=`` with the SAME
    codebooks and centroids."""
    from exosql_spark.operators.similarity import ivf_encode

    # Single pass: the cell assignment rides into pq_encode via
    # keep_cols, so encoding is one fused map over the scan — a
    # two-scan shape would re-join (vec_id, cell) to (vec_id, pq_code)
    # on vec_id, a full corpus shuffle for nothing.
    enc = ivf_encode(corpus, centroids, id_col, vec_col, assigner=encoder)
    return pq_encode(enc, codebooks, vec_col, "vec_id", encoder, keep_cols=("cell",))


def ivfpq_append(
    new_vectors: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    encoder: str = "expr",
    batch_id: int | None = None,
) -> None:
    """Index MAINTENANCE for the stored IVFADC layout — the
    compressed-domain sibling of ``similarity.ivf_append`` (see its
    docstring for the lifecycle rationale): encode ``new_vectors`` with
    the FROZEN codebooks + coarse centroids (no retrain) and append the
    (vec_id, cell, pq_code) rows into the cell-partitioned layout at
    ``path``.  Frozen quantizers mean appended rows get exactly the
    cell and codes a from-scratch rebuild would give them, so probes
    over the appended layout equal probes over a rebuild
    (driver-hash-proven by similarity_topk_ivfpq_appended_planted).
    Never use this across a codebook retrain — that is a rebuild;
    validate_encoded_ivfpq trips on structural mismatches at read
    time.  ``batch_id``: same idempotent-replay contract as
    ``similarity.ivf_append`` (sinks.append_batch_keyed)."""
    from exosql_spark import sinks

    encoded = ivfpq_encode(
        new_vectors, codebooks, centroids, vec_col, id_col, encoder
    )
    if batch_id is not None:
        sinks.append_batch_keyed(encoded, path, "cell", batch_id)
    else:
        sinks.write_table(encoded, path, mode="append", partition_by=["cell"])


def validate_encoded_ivfpq(
    encoded: DataFrame, codebooks: list[list[list[float]]], n_cells: int
) -> None:
    """Tripwire for stale ``encoded=`` ↔ codebook pairings (see
    similarity.validate_encoded_ivf for the rationale): schema
    presence plus a one-row sample asserting size(pq_code) == m (the
    subspace count of the codebooks passed in), every code is inside
    [0, k_codes), and the cell id is inside [0, n_cells). A layout
    written against retrained codebooks with a different m or k fails
    loudly here instead of returning silently-wrong ADC distances."""
    need = {"vec_id", "cell", "pq_code"}
    missing = need - set(encoded.columns)
    if missing:
        raise ValueError(
            f"encoded IVFPQ frame is missing column(s) {sorted(missing)}; "
            "expected the ivfpq_encode layout (vec_id, cell, pq_code)"
        )
    row = (
        encoded.select("cell", "pq_code")
        .filter(F.col("pq_code").isNotNull())
        .first()
    )
    if row is None:
        return
    m, k_codes = len(codebooks), len(codebooks[0])
    code = list(row["pq_code"])
    if len(code) != m:
        raise ValueError(
            f"encoded pq_code has {len(code)} subspace codes but the "
            f"codebooks passed have m={m}: the stored layout was "
            "encoded with different codebooks than this probe received"
        )
    bad = [c for c in code if not (0 <= c < k_codes)]
    if bad:
        raise ValueError(
            f"encoded pq_code contains code(s) {bad} outside "
            f"[0, {k_codes}): codebook/layout mismatch"
        )
    if row["cell"] is not None and not (0 <= row["cell"] < n_cells):
        raise ValueError(
            f"encoded IVFPQ frame has cell id {row['cell']} outside "
            f"[0, {n_cells}): centroid/layout mismatch"
        )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame | list[tuple],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    encoder: str = "expr",
    centroids: list[list[float]] | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): coarse IVF cells prune the
    CANDIDATE SET, PQ/ADC scores the survivors in the compressed
    domain — the structure behind billion-scale ANN deployments.

    Coarse quantizer: training-free random-direction cells by default
    (deterministic, no second k-means), or pass trained ``centroids``
    (e.g. ``clustering.train_kmeans_sample`` on a bounded sample — the
    real-IVF shape with balanced occupancy). Corpus rows carry
    (cell, pq_code); queries probe their ``n_probe`` best cells; the
    ADC distance is a per-query broadcast-table lookup over the join's
    survivors — only ~n_probe/n_cells of the corpus is scored, and
    what's scored is 8-byte codes, not raw vectors.

    ``encoded``: a pre-encoded (vec_id, cell, pq_code) frame from
    :func:`ivfpq_encode` — typically read back from a cell-partitioned
    parquet layout so probes prune files; must match the codebooks and
    centroids passed here. With ``encoded``, ``corpus`` is ignored and
    the raw vectors are never touched.

    Columns: query_id, vec_id, approx_sq_dist, rank.

    ``queries`` may be pre-collected ``(id, vector)`` rows
    (:func:`collect_vectors`) — skips this function's own collect.
    """
    from exosql_spark.operators.similarity import _hyperplanes

    qid_type = _qid_type(queries, query_id_col)
    cents = centroids if centroids is not None else _hyperplanes(dim, n_cells, seed)
    n_cells = len(cents)

    if encoded is not None:
        validate_encoded_ivfpq(encoded, codebooks, n_cells)
        table_side = encoded.select("vec_id", "cell", "pq_code")
    else:
        table_side = ivfpq_encode(
            corpus, codebooks, cents, vec_col, id_col, encoder
        )

    qs = (
        queries
        if isinstance(queries, list)
        else [
            (r[query_id_col], list(r[vec_col]))
            for r in queries.select(query_id_col, vec_col).collect()
        ]
    )
    if not qs:
        return _empty_topk(table_side, qid_type)
    # Probe rows carry (query_id, cell, adc table) — the ADC tables
    # ride the broadcast as data (n_probe rows × m·k floats per
    # query), so the distance expression is ONE small lookup chain
    # over the adc column instead of a per-query CASE-WHEN over
    # literal arrays (see pq_topk for the measured analysis cost).
    probes = []
    for qid, q_vec in qs:
        # driver-side probe selection mirrors cell_scores exactly
        scores = sorted(
            ((sum(a * b for a, b in zip(q_vec, c)), i) for i, c in enumerate(cents)),
            reverse=True,
        )
        table = _adc_table(q_vec, codebooks)
        probes.extend((qid, cell, table) for _, cell in scores[:n_probe])

    spark = table_side.sparkSession
    probe_df = F.broadcast(
        spark.createDataFrame(
            probes, f"query_id {qid_type}, cell int, adc array<array<double>>"
        )
    )
    dist = None
    for j in range(len(codebooks)):
        lookup = F.element_at(
            F.element_at("adc", j + 1), F.element_at("pq_code", j + 1) + 1
        )
        dist = lookup if dist is None else dist + lookup
    scored = (
        table_side.join(probe_df, "cell")
        .select("query_id", "vec_id", dist.alias("_d"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d").asc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("_d", 4).alias("approx_sq_dist"), "rank")
    )
