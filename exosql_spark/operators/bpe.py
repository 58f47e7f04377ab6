"""Byte-pair-encoding merge learning, distributed.

Greedy BPE (Sennrich et al. 2016 — the tokenizer-training algorithm
behind GPT-2/RoBERTa vocabularies) is inherently iterative: k times,
count adjacent symbol pairs over the corpus, merge the most frequent
pair everywhere, repeat.  The distributed shape per iteration:

1. **Pair counting**: ``zip_with(tokens, tokens[1:])`` → posexplode →
   one freq-weighted groupBy — a single map-side-combined shuffle whose
   key space is the live pair vocabulary, not the corpus.
2. **Argmax**: deterministic top-1 (count DESC, then pair ASC so ties
   break identically across engines/runs) — a 1-row collect per
   iteration, the driver's only involvement (k rows total, bounded by
   the requested merge count, like clustering.py's per-round collect).
3. **Merge application**: a left-to-right non-overlapping pair
   rewrite of every tokens array via one ``F.aggregate`` fold with a
   ``struct<out, prev>`` accumulator — the same O(1)-expression-tree
   HOF shape as the JPEG/WAV header walks (multimodal.py): a pending
   token is either flushed or fused with the current one, so
   ``[A,B,A,B]`` → ``[AB,AB]`` and ``[A,A,B]`` → ``[A,AB]`` exactly as
   serial BPE does.  No UDF, no extra shuffle — the rewrite rides the
   next iteration's scan.

Each merge is one corpus pass; learning k merges is k passes — the
standard trade every BPE trainer makes (HF tokenizers parallelizes
exactly this loop).  Words-with-frequency input (the classic setup)
means the corpus pass is over the DISTINCT word table, typically
orders of magnitude smaller than the raw text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pair_counts(
    df: DataFrame, tokens: str, freq: str, observe_with=None
) -> DataFrame:
    # greatest(.., 0): slice raises on a negative length, which an
    # EMPTY tokens array would otherwise produce (size - 1 = -1).
    # SQL text for the same reason as _merge_pair_sql (r18): this is
    # rebuilt once per merge per query construction.
    q = "`" + tokens.replace("`", "``") + "`"
    n_pairs = f"greatest(size({q}) - 1, 0)"
    pairs = (
        f"zip_with(slice({q}, 1, {n_pairs}), slice({q}, 2, {n_pairs}), "
        "(a, b) -> struct(a as l, b as r))"
    )
    exploded = df.select(
        F.expr(f"explode({pairs})").alias("p"), F.col(freq).alias("f")
    )
    if observe_with is not None:
        # pair-instance row count rides the aggregation's own job —
        # learn_bpe's iteration scope sizes its partitions from it
        exploded = exploded.observe(
            observe_with, F.count(F.lit(1)).alias("np")
        )
    return exploded.groupBy(
        F.col("p.l").alias("l"), F.col("p.r").alias("r")
    ).agg(F.sum("f").alias("n"))


def _sql_str(s: str) -> str:
    """SQL string literal (backslash-escaped, the Spark default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_pair_sql(
    tokens_sql: str, left: str, right: str, joined: str | None = None
) -> str:
    """:func:`merge_pair`'s fold as SQL text over a SQL fragment — one
    py4j round trip to build instead of ~80 ms of Column-API calls per
    merge (r18; bench times build+count per run, so learn_bpe paid the
    composition k times per run). Identical expression tree; pinned by
    TestSqlTextBuilderEquivalence and the serial-reference BPE tests."""
    j = _sql_str(joined if joined is not None else left + right)
    l, r = _sql_str(left), _sql_str(right)
    fuse = f"acc.prev is not null and acc.prev = {l} and t = {r}"
    return (
        f"aggregate({tokens_sql}, "
        "struct(cast(array() as array<string>) as out,"
        " cast(null as string) as prev), "
        "(acc, t) -> struct("
        f"case when {fuse} then concat(acc.out, array({j})) "
        "when acc.prev is not null then concat(acc.out, array(acc.prev)) "
        "else acc.out end as out, "
        f"case when {fuse} then cast(null as string) else t end as prev), "
        "acc -> case when acc.prev is not null"
        " then concat(acc.out, array(acc.prev)) else acc.out end)"
    )


def merge_pair(
    tokens: Column | str, left: str, right: str, joined: str | None = None
) -> Column:
    """Left-to-right non-overlapping rewrite of every adjacent
    ``(left, right)`` into their concatenation: an ``F.aggregate``
    fold carrying the previous token as pending state (O(1) expression
    tree, runtime loop — see module docstring).  ``tokens`` as a str
    (column name) takes the one-round-trip SQL-text path."""
    if isinstance(tokens, str):
        quoted = "`" + tokens.replace("`", "``") + "`"
        return F.expr(_merge_pair_sql(quoted, left, right, joined))
    joined_lit = F.lit(joined if joined is not None else left + right)
    l_lit, r_lit = F.lit(left), F.lit(right)

    def step(acc, t):
        prev, out = acc["prev"], acc["out"]
        fuse = prev.isNotNull() & (prev == l_lit) & (t == r_lit)
        new_out = (
            F.when(fuse, F.concat(out, F.array(joined_lit)))
            .when(prev.isNotNull(), F.concat(out, F.array(prev)))
            .otherwise(out)
        )
        new_prev = F.when(fuse, F.lit(None).cast("string")).otherwise(t)
        return F.struct(new_out.alias("out"), new_prev.alias("prev"))

    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    folded = F.aggregate(
        tokens,
        init,
        step,
        lambda acc: F.when(
            acc["prev"].isNotNull(), F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"]),
    )
    return folded


def word_symbols(word: Column, eow: str | None = None) -> Column:
    """A word's initial BPE symbol sequence: its characters, plus an
    optional end-of-word marker symbol (Sennrich 2016 uses ``</w>`` so
    merges can distinguish word-final contexts)."""
    # split("", "") yields [""] — an empty word must yield NO symbols
    chars = F.when(word == "", F.array().cast("array<string>")).otherwise(
        F.split(word, "")
    )
    if eow is None:
        return chars
    return F.concat(chars, F.array(F.lit(eow)))


def apply_bpe(tokens: Column, merges: list[tuple[str, str]]) -> Column:
    """ENCODE: apply an ordered learned merge list to a symbol array —
    the inference half of the tokenizer (training learns the list,
    encoding replays it on new text in the SAME order, each merge a
    left-to-right non-overlapping rewrite).  Composes
    :func:`merge_pair` sequentially, so the whole encode is one column
    expression of depth O(k): pure per-row computation — no shuffle,
    no UDF, rides whatever scan produces the words.  Accepts the
    (l, r) prefix of ``learn_bpe``'s (l, r, count) tuples too."""
    out = tokens
    for m in merges:
        out = merge_pair(out, m[0], m[1])
    return out


def learn_bpe(
    df: DataFrame,
    tokens: str = "tokens",
    freq: str = "freq",
    n_merges: int = 8,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` greedy BPE merges over a words-with-frequency
    table.  Returns (merges, rewritten_df) where merges is the ordered
    list of (left, right, pair_count) and rewritten_df carries the
    corpus after applying them all.  Stops early if no pair is left.
    Ties break on (left, right) ascending — deterministic across
    engines, runs, and partitionings.

    The returned frame, when any merge was learned, is persisted and
    registered through ``cache.managed_persist`` (released by the
    host's ``release_caches``); intermediate generations are
    unpersisted as soon as their successor is materialized.

    Merges 2..k run under ``operators.iterative.loop_scope`` (r19):
    the first pair-count job counts the exploded pair instances for
    free via ``observe``, and the remaining fixed-shape merge rounds
    run with AQE off and a size-derived shuffle partition count
    (measured at sf0.1: 16 → 6 jobs, 0.85× for the 8-merge bench entry
    — each tiny per-merge argmax was paying AQE stage-jobs and a full
    task wave)."""
    from contextlib import ExitStack

    from pyspark.sql import Observation

    from exosql_spark.cache import managed_persist
    from exosql_spark.operators.iterative import loop_scope

    spark = df.sparkSession
    merges: list[tuple[str, str, int]] = []
    pending_unpersist = None
    obs = Observation("bpe_pair_rows")
    with ExitStack() as scope:
        for it in range(n_merges):
            # This collect is the action that populates the newest
            # generation's cache — only THEN is its predecessor safe to
            # drop (unpersisting earlier would force the fold lineage
            # to recompute from the raw corpus, the exact O(k²) this
            # avoids).
            top = (
                _pair_counts(
                    df, tokens, freq, observe_with=obs if it == 0 else None
                )
                .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if it == 0:
                scope.enter_context(loop_scope(spark, int(obs.get["np"] or 0)))
            if pending_unpersist is not None:
                pending_unpersist.unpersist()
                pending_unpersist = None
            if not top:
                break
            l, r, n = top[0].l, top[0].r, top[0].n
            merges.append((l, r, int(n)))
            # Bound lineage: without the persist, iteration k's pair
            # count re-applies all k-1 earlier merge folds to the raw
            # corpus (O(k²) fold work by the last merge, and an
            # ever-deeper plan).  Each rewrite is cached so every
            # iteration is one pass over the previous iteration's
            # materialized output; at most two generations are ever
            # held (the newest + its predecessor until the next action
            # fills the newest).
            prev = df
            df = df.withColumn(tokens, merge_pair(tokens, l, r)).persist()
            pending_unpersist = prev
        if pending_unpersist is not None:
            # materialize the final generation so its predecessor can
            # be released now rather than leaking until the caller's
            # first action (one extra pass over the final, smallest
            # corpus)
            df.count()
            pending_unpersist.unpersist()
    if merges:
        # the generation handed to the caller is theirs to read: it
        # joins the session registry, so release_caches drains it
        df = managed_persist(df)
    return merges, df
