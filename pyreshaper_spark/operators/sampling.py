"""Deterministic sampling / splitting / mixing over the ``documents``
table — the corpus-construction operators a training-data pipeline runs
before anything else touches the data.

Why hash-based instead of ``df.sample``: at 10^12 rows a sample must be
(a) reproducible across reruns, engines, and cluster sizes, (b) stable
under repartitioning, and (c) cheap — a map-side filter, no shuffle, no
RNG state. Every operator here keys off the md5-derived 32-bit doc
hash (functions.xhash — the one hash Spark and DuckDB compute
identically), so results are exact-integer oracle-checkable and a
document's fate (kept / dropped / split / rank) is a pure function of
its id.

Scale shapes:

* ``hash_sample`` / ``split_assign`` — stateless column expressions:
  predicate-pushdown-friendly, zero shuffle, trivially parallel.
* ``stratified_sample`` — same filter with a per-source rate map baked
  into a CASE expression (|sources| is small); still zero shuffle.
* ``mix_sources`` — weight-proportional per-source quota via one
  hash-ordered window per source (single shuffle on source); the
  hash order makes the quota a deterministic uniform subsample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyreshaper_spark.functions.xhash import h32, h32_sql

#: hash-space modulus for rate predicates: doc kept iff h % DEN < num.
#: 10_000 gives basis-point granularity, far above any corpus-rate need.
RATE_DEN = 10_000


def _rate_col(doc_id: str = "doc_id") -> F.Column:
    return F.pmod(h32(F.col(doc_id).cast("string")), F.lit(RATE_DEN))


def _rate_sql(expr: str = "doc_id") -> str:
    return f"(({h32_sql(f'CAST({expr} AS VARCHAR)')}) % {RATE_DEN})"


def hash_sample(docs: DataFrame, rate_bp: int) -> DataFrame:
    """Bernoulli-by-hash sample: keep a doc iff
    ``h32(doc_id) % 10000 < rate_bp`` (rate in basis points).

    Deterministic, rerun-stable, partition-layout-independent, and a
    pure map-side filter — the ONLY sampling shape that behaves at
    10^12 rows (``df.sample`` reseeds per task attempt and re-draws on
    retries)."""
    if not 0 <= rate_bp <= RATE_DEN:
        raise ValueError("rate_bp must be in 0..10000")
    return docs.filter(_rate_col() < rate_bp)


def hash_sample_sql(rate_bp: int, cols: str = "doc_id, source, n_chars") -> str:
    return f"""
SELECT {cols}
FROM documents
WHERE {_rate_sql()} < {rate_bp}
"""


def stratified_sample(docs: DataFrame, rates_bp: dict[str, int],
                      default_bp: int = 0) -> DataFrame:
    """Per-source sampling rates (basis points) — corpus re-weighting
    by downsampling over-represented sources. Unlisted sources fall
    back to ``default_bp``. Same zero-shuffle filter as hash_sample;
    the rate map is a driver-side CASE expression (|sources| small)."""
    rate = F.lit(default_bp)
    for src, bp in sorted(rates_bp.items()):
        if not 0 <= bp <= RATE_DEN:
            raise ValueError(f"rate for {src!r} out of 0..10000")
        rate = F.when(F.col("source") == src, F.lit(bp)).otherwise(rate)
    return docs.filter(_rate_col() < rate)


def stratified_sample_sql(rates_bp: dict[str, int], default_bp: int = 0,
                          cols: str = "doc_id, source, n_chars") -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {bp}" for s, bp in sorted(rates_bp.items())
    )
    return f"""
SELECT {cols}
FROM documents
WHERE {_rate_sql()} < (CASE {cases} ELSE {default_bp} END)
"""


def split_assign(docs: DataFrame, val_bp: int = 100,
                 test_bp: int = 100) -> DataFrame:
    """Train/val/test assignment by disjoint hash ranges:
    ``[0, val_bp) -> val``, ``[val_bp, val_bp+test_bp) -> test``, rest
    train. A document's split never changes as the corpus grows — the
    property that keeps eval sets uncontaminated across pipeline runs."""
    if val_bp + test_bp > RATE_DEN:
        raise ValueError("val_bp + test_bp must be <= 10000")
    r = _rate_col()
    return docs.withColumn(
        "split",
        F.when(r < val_bp, F.lit("val"))
        .when(r < val_bp + test_bp, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def split_assign_sql(val_bp: int = 100, test_bp: int = 100,
                     cols: str = "doc_id, source, n_chars") -> str:
    return f"""
SELECT {cols},
       CASE WHEN {_rate_sql()} < {val_bp} THEN 'val'
            WHEN {_rate_sql()} < {val_bp + test_bp} THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""


def mix_sources(docs: DataFrame, quotas: dict[str, int]) -> DataFrame:
    """Deterministic data mixture: take the first ``quotas[source]``
    documents of each source in hash order (a uniform subsample, since
    the hash order is independent of everything else) — the curriculum
    /mixture-weights op of LLM corpus construction.

    One window per the single (source) shuffle; rank carried in the
    output so downstream interleave order is also deterministic."""
    if not quotas:
        raise ValueError("mix_sources: quotas must be non-empty")
    w = Window.partitionBy("source").orderBy(
        _rate_col(), F.col("doc_id").cast("string")
    )
    quota = F.lit(None).cast("long")
    for src, n in sorted(quotas.items()):
        quota = F.when(F.col("source") == src, F.lit(n)).otherwise(quota)
    return (
        docs.withColumn("mix_rank", F.row_number().over(w))
        .withColumn("_quota", quota)
        .filter(F.col("_quota").isNotNull() & (F.col("mix_rank") <= F.col("_quota")))
        .drop("_quota")
    )


def mix_sources_sql(quotas: dict[str, int],
                    cols: str = "doc_id, source, n_chars") -> str:
    if not quotas:
        raise ValueError("mix_sources_sql: quotas must be non-empty")
    cases = " ".join(f"WHEN source = '{s}' THEN {n}"
                     for s, n in sorted(quotas.items()))
    return f"""
SELECT {cols}, mix_rank FROM (
  SELECT {cols},
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_rate_sql()}, CAST(doc_id AS VARCHAR)
         ) AS mix_rank
  FROM documents
)
WHERE (CASE {cases} ELSE NULL END) IS NOT NULL
  AND mix_rank <= (CASE {cases} ELSE NULL END)
"""


def mix_token_budget(
    seq: DataFrame, budgets: dict[str, int]
) -> DataFrame:
    """Token-budget data mixture — the op real LLM data mixes actually
    run (mixture weights are specified in TOKENS, not documents): per
    source, take documents in deterministic hash order until the
    cumulative token count first reaches the source's budget. The
    boundary doc that crosses the budget is INCLUDED (budgets are
    floors, matching "sample at least B tokens"); sources without a
    budget are dropped.

    Same single (source) shuffle + one window as :func:`mix_sources`
    — the cumulative sum rides the same sort. Output adds ``cum_tok``
    (running total including this doc) and ``mix_rank``.
    """
    if not budgets:
        raise ValueError("mix_token_budget: budgets must be non-empty")
    w = Window.partitionBy("source").orderBy(
        _rate_col(), F.col("doc_id").cast("string")
    )
    budget = F.lit(None).cast("long")
    for src, b in sorted(budgets.items()):
        budget = F.when(F.col("source") == src, F.lit(b)).otherwise(budget)
    cum = F.sum("n_tok").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        seq.withColumn("mix_rank", F.row_number().over(w))
        .withColumn("cum_tok", cum.cast("long"))
        .withColumn("_budget", budget)
        .filter(
            F.col("_budget").isNotNull()
            & (F.col("cum_tok") - F.col("n_tok") < F.col("_budget"))
        )
        .drop("_budget")
    )


def mix_token_budget_sql(
    budgets: dict[str, int], relation: str = "seqs"
) -> str:
    """DuckDB twin over a `seqs(doc_id, source, n_tok)` relation."""
    if not budgets:
        raise ValueError("mix_token_budget_sql: budgets must be non-empty")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {b}" for s, b in sorted(budgets.items())
    )
    return f"""
SELECT doc_id, source, n_tok, mix_rank, cum_tok FROM (
  SELECT doc_id, source, n_tok,
         row_number() OVER w AS mix_rank,
         CAST(sum(n_tok) OVER (
           PARTITION BY source
           ORDER BY {_rate_sql()}, CAST(doc_id AS VARCHAR)
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tok
  FROM {relation}
  WINDOW w AS (PARTITION BY source
               ORDER BY {_rate_sql()}, CAST(doc_id AS VARCHAR))
)
WHERE (CASE {cases} ELSE NULL END) IS NOT NULL
  AND cum_tok - n_tok < (CASE {cases} ELSE NULL END)
"""


def sample_k_per_source(docs: DataFrame, k: int) -> DataFrame:
    """Deterministic uniform-ish sample of AT MOST ``k`` docs per
    source: rank docs inside each source by (hash, doc_id) and keep
    rank ≤ k — the reservoir-sample shape that is rerun-stable and
    layout-independent (df.sample is neither). Spark 4 pushes the
    rank ≤ k predicate below the window exchange (WindowGroupLimit),
    so each map task forwards at most k rows per source — the plan a
    10^12-row per-group sample needs. Output (doc_id, source, n_chars,
    rk)."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        _rate_col(), F.col("doc_id").cast("string")
    )
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def sample_k_per_source_sql(k: int) -> str:
    return f"""
SELECT doc_id, source, n_chars, rk FROM (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY {_rate_sql()}, CAST(doc_id AS VARCHAR)
         ) AS BIGINT) AS rk
  FROM documents
) WHERE rk <= {k}
"""


def doc_len_deciles(docs: DataFrame, two_pass: bool = False) -> DataFrame:
    """Corpus length-decile assignment: which tenth of the (n_chars,
    doc_id)-ordered corpus each doc falls in — the input to
    length-balanced mixture sampling. ntile is deterministic here
    because the ordering is a total order (doc_id tiebreak).

    Scale note: ntile is a GLOBAL window (single-partition sort of
    doc-id-sized rows) — the right tool through ~10^8 docs and the
    oracle for the scale path. ``two_pass=True`` is that 10^12-row
    path: EXACT global ranks with no corpus-wide sort —

    1. histogram pass: count docs per distinct ``n_chars`` value (the
       boundary set — O(distinct lengths), driver/broadcast scale: a
       length histogram, not the corpus), running-sum it over the tiny
       distinct-length relation, broadcast-join ``cum_below`` back;
    2. rank pass: ``row_number`` partitioned BY ``n_chars`` (hash
       exchange, per-length groups) + ``cum_below`` = the exact global
       rank; the ntile bucket is then closed-form from (rank, N)
       (first ``N%10`` buckets take ``ceil(N/10)`` rows — Spark's
       ntile contract).

    Both forms return identical rows (parity pytest). The per-length
    group sort is the residual hotspot if one single length dominates
    the corpus — the same tie-skew caveat every distributed exact-rank
    scheme carries.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    if not two_pass:
        w = Window.orderBy(F.col("n_chars"), F.col("doc_id"))
        return base.select(
            "doc_id",
            "source",
            "n_chars",
            F.ntile(10).over(w).cast("long").alias("len_decile"),
        )

    hist = base.groupBy("n_chars").agg(F.count("*").alias("_cnt"))
    # running sum + grand total over DISTINCT lengths only — both
    # windows here are O(boundary set), never O(corpus). The grand
    # total rides the same tiny relation as a column, so N never needs
    # a driver-side count(): the whole path stays one lazy plan with
    # ONE corpus scan (the scale path must not pay an extra full scan
    # just to lift N into a Python literal).
    running = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    whole = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        F.col("n_chars").alias("_key"),
        (F.sum("_cnt").over(running) - F.col("_cnt")).alias("_cum_below"),
        F.sum("_cnt").over(whole).alias("_n"),
    )
    rn = F.row_number().over(
        Window.partitionBy("n_chars").orderBy("doc_id")
    )
    # no forced broadcast: the boundary relation is a LENGTH histogram
    # (small in any real corpus), but its cardinality is not bounded by
    # construction — AQE converts the join to broadcast when it fits
    # and hash-partitions both sides when it doesn't. Null-safe: a NULL
    # length is its own boundary (ranked NULLS FIRST, as in the window)
    on = F.col("n_chars").eqNullSafe(F.col("_key"))
    ranked = base.join(cum, on).select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("_cum_below") + rn - 1).alias("_r0"),  # 0-based rank
        F.col("_n"),
    )
    # bucket sizes: rem buckets of (q+1), then 10-rem of q — Spark's
    # ntile contract — derived per row from the _n column. Integer
    # `div`, never float `/` + floor — exact past 2^53 ranks.
    decile = F.expr(
        "CASE WHEN _r0 < (_n % 10) * (_n div 10 + 1)"
        "     THEN _r0 div (_n div 10 + 1)"
        "     ELSE (_n % 10)"
        "          + (_r0 - (_n % 10) * (_n div 10 + 1))"
        "            div greatest(_n div 10, 1) END"
    )
    return ranked.select(
        "doc_id",
        "source",
        "n_chars",
        (decile + 1).cast("long").alias("len_decile"),
    )


def doc_len_deciles_sql() -> str:
    return """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(ntile(10) OVER (
           ORDER BY CAST(n_chars AS BIGINT), CAST(doc_id AS VARCHAR)
       ) AS BIGINT) AS len_decile
FROM documents
"""


def quality_pctl(docs: DataFrame, two_pass: bool = False) -> DataFrame:
    """Per-source percentile-rank normalization of a document quality
    score — the step that makes scores COMPARABLE ACROSS SOURCES
    before a global quality threshold or mixture weight is applied
    (raw heuristics have per-source scale; "top 20% of each source"
    does not).

    The score is lexical diversity as an exact integer permille
    (``distinct_words·1000 div n_words``); the normalized output is
    the exact percentile rank ``(rank−1)·1000 div (n−1)`` within the
    source over the total order (score, doc_id) — 0 for the worst doc
    of a source, 1000 for the best, and single-doc sources pin to 0.
    No float in the comparable output.

    Scale note: rank+count are per-SOURCE windows (one exchange on
    source, a per-source sort) — this exact form is the scale path's
    oracle. ``two_pass=True`` is the 10^12-doc path, the per-source
    instance of :func:`doc_len_deciles`'s boundary broadcast: the
    score domain is a bounded permille (0..1000), so the (source,
    score) count histogram is O(sources × 1001); its running sum gives
    ``cum_below`` per boundary, a broadcast join plus a ``row_number``
    partitioned by (source, score) reconstructs the EXACT per-source
    rank, and no per-source corpus-wide sort ever runs.
    """
    from pyspark.sql import Window

    from pyreshaper_spark.functions.xhash import words_col

    words = words_col()
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    ).filter(F.col("n_words") > 0)
    score = F.expr("n_distinct * 1000 div n_words")
    scored = base.select(
        "doc_id", "source", score.cast("long").alias("score")
    )
    if two_pass:
        hist = scored.groupBy("source", "score").agg(
            F.count("*").alias("_cnt")
        )
        wsrc = Window.partitionBy("source").orderBy("score").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = hist.select(
            F.col("source").alias("_src"),
            F.col("score").alias("_score"),
            (F.sum("_cnt").over(wsrc) - F.col("_cnt")).alias("_cum_below"),
            F.sum("_cnt")
            .over(Window.partitionBy("source"))
            .alias("n"),
        )
        rn = F.row_number().over(
            Window.partitionBy("source", "score").orderBy("doc_id")
        )
        # O(sources × 1001) boundary relation: usually broadcast-sized,
        # but sources are unbounded — let AQE pick the join strategy.
        # Null-safe, so a NULL source keeps its rows like the window form
        on = F.col("source").eqNullSafe(F.col("_src")) & F.col(
            "score").eqNullSafe(F.col("_score"))
        ranked = scored.join(cum, on).select(
            "doc_id",
            "source",
            "score",
            (F.col("_cum_below") + rn).cast("long").alias("rk"),
            F.col("n").cast("long").alias("n"),
        )
    else:
        w = Window.partitionBy("source").orderBy(
            F.col("score").asc(), F.col("doc_id").asc()
        )
        n = F.count("*").over(Window.partitionBy("source"))
        ranked = scored.select(
            "doc_id",
            "source",
            "score",
            F.row_number().over(w).cast("long").alias("rk"),
            n.alias("n"),
        )
    return ranked.select(
        "doc_id",
        "source",
        "score",
        F.when(F.col("n") > 1, F.expr("(rk - 1) * 1000 div (n - 1)"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pctl_permille"),
    )


def quality_pctl_sql() -> str:
    """DuckDB twin of :func:`quality_pctl` over the `documents` view."""
    from pyreshaper_spark.functions.xhash import WORDS_SQL

    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR)            AS doc_id,
         source,
         len({WORDS_SQL})                   AS n_words,
         len(list_distinct({WORDS_SQL}))    AS n_distinct
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         CAST(n_distinct * 1000 // n_words AS BIGINT) AS score
  FROM base WHERE n_words > 0
)
SELECT doc_id, source, score,
       CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000 // (n - 1)
                 ELSE 0 END AS BIGINT) AS pctl_permille
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY source
                            ORDER BY score ASC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored)
"""


def mix_quality_budget(
    seq: DataFrame,
    budgets: dict[str, int],
    max_df: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Quality-RANKED token-budget curation — the "keep the cleanest B
    tokens per source" op of corpus construction (contrast
    :func:`mix_token_budget`, which takes a uniform hash-ordered
    subsample): per source, documents are consumed CLEANEST-FIRST
    (ascending token-rarity load, the OOV/garbage signal of
    ``vocab.doc_rarity``) until the cumulative token count first
    reaches the source's budget; the boundary doc is included (budgets
    are floors) and unbudgeted sources are dropped.

    The quality key is the exact integer quotient
    ``qkey = n_rare * scale DIV n_occ`` (rare-token occurrence share,
    lower = cleaner) so both engines sort identically — ties broken by
    doc hash then doc_id, a total order. Docs whose token array is
    empty carry no tokens and are excluded (they can't advance a token
    budget and have no rarity signal).

    Scale shape: rarity is a vocabulary-bounded hash agg broadcast back
    onto the token stream (``doc_rarity``'s shape — see
    :func:`vocab.doc_rarity`), but ``source``/``n_tok`` ride the per-doc
    re-aggregate as grouping keys (functionally dependent on doc_id, so
    free), which removes the doc-keyed join ``doc_rarity ⋈ seq`` would
    need; the ranking itself is ONE window on the single (source)
    exchange — :func:`mix_token_budget`'s plan with a different sort key.
    """
    if not budgets:
        raise ValueError("mix_quality_budget: budgets must be non-empty")
    tok = seq.select(
        "doc_id",
        "source",
        F.size("tokens").cast("long").alias("n_tok"),
        F.explode("tokens").alias("token"),
    )
    df_tbl = tok.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    j = (
        tok.join(F.broadcast(df_tbl), "token")
        .groupBy("doc_id", "source", "n_tok")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.sum(F.when(F.col("df") <= max_df, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
        .withColumn("qkey", F.expr(f"n_rare * {scale} DIV n_occ"))
    )
    w = Window.partitionBy("source").orderBy(
        "qkey", _rate_col(), F.col("doc_id").cast("string")
    )
    budget = F.lit(None).cast("long")
    for src, b in sorted(budgets.items()):
        budget = F.when(F.col("source") == src, F.lit(b)).otherwise(budget)
    cum = F.sum("n_tok").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        j.withColumn("mix_rank", F.row_number().over(w))
        .withColumn("cum_tok", cum.cast("long"))
        .withColumn("_budget", budget)
        .filter(
            F.col("_budget").isNotNull()
            & (F.col("cum_tok") - F.col("n_tok") < F.col("_budget"))
        )
        .select("doc_id", "source", "n_tok", "qkey", "mix_rank", "cum_tok")
    )


def mix_quality_budget_sql(
    budgets: dict[str, int], max_df: int, scale: int = 1_000_000
) -> str:
    """DuckDB twin over a ``seqs(doc_id, source, tokens)`` CTE. Emits
    CTE continuations + the final SELECT (append after a WITH list
    that already defines ``seqs``, with a trailing comma)."""
    if not budgets:
        raise ValueError("mix_quality_budget_sql: budgets must be non-empty")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {b}" for s, b in sorted(budgets.items())
    )
    ordr = f"qkey, {_rate_sql()}, CAST(doc_id AS VARCHAR)"
    return f"""
tokstream AS (SELECT doc_id, unnest(tokens) AS token FROM seqs),
dfx AS (SELECT token, count(DISTINCT doc_id) AS df
        FROM tokstream GROUP BY 1),
rar AS (
  SELECT doc_id, count(*) AS n_occ,
         CAST(sum(CASE WHEN df <= {max_df} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare
  FROM tokstream JOIN dfx USING (token) GROUP BY 1
),
qbase AS (
  SELECT s.doc_id, s.source, CAST(len(s.tokens) AS BIGINT) AS n_tok,
         CAST(r.n_rare * {scale} // r.n_occ AS BIGINT) AS qkey
  FROM seqs s JOIN rar r USING (doc_id)
)
SELECT doc_id, source, n_tok, qkey, mix_rank, cum_tok FROM (
  SELECT doc_id, source, n_tok, qkey,
         row_number() OVER (PARTITION BY source ORDER BY {ordr})
           AS mix_rank,
         CAST(sum(n_tok) OVER (
           PARTITION BY source ORDER BY {ordr}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tok
  FROM qbase
)
WHERE (CASE {cases} ELSE NULL END) IS NOT NULL
  AND cum_tok - n_tok < (CASE {cases} ELSE NULL END)
"""


def doc_concentration(seq: DataFrame, k: int = 10) -> DataFrame:
    """Per-source heavy-hitter concentration: how much of a source's
    token mass sits in its top-``k`` biggest docs. The corpus-health
    face of skew — a source whose mass concentrates in a handful of
    huge documents behaves very differently under sampling, packing,
    and dedup than one with the same total spread evenly.

    Exact integers end-to-end; shares (topk_tok/total_tok) are
    consumer-side divisions. Ranking is per-source with a (n_tok desc,
    doc_id) total order, so ties are deterministic cross-engine.

    Scale shape: one source-keyed exchange + window rank + one
    partial+final hash agg — the grouped-top-k budget; no global sort.

    Output: ``(source, n_docs, total_tok, topk_tok, max_tok)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    )
    ranked = seq.select(
        "source",
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
    ).withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tok"),
        F.sum(F.when(F.col("rk") <= k, F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("topk_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
    )


def doc_concentration_sql(relation: str, k: int = 10) -> str:
    """DuckDB twin of :func:`doc_concentration` over a named relation
    with columns ``(doc_id, source, n_tok)``."""
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT)    AS n_docs,
       CAST(sum(n_tok) AS BIGINT)  AS total_tok,
       CAST(sum(CASE WHEN rk <= {k} THEN n_tok ELSE 0 END) AS BIGINT)
                                   AS topk_tok,
       CAST(max(n_tok) AS BIGINT)  AS max_tok
FROM (
  SELECT source, CAST(n_tok AS BIGINT) AS n_tok,
         row_number() OVER (
             PARTITION BY source
             ORDER BY CAST(n_tok AS BIGINT) DESC, CAST(doc_id AS VARCHAR)
         ) AS rk
  FROM {relation}
)
GROUP BY 1
"""


def _isqrt_expr(n: str) -> str:
    """Exact integer sqrt as a SQL expression (engine-neutral): start
    from the float sqrt, then correct the possible off-by-one in both
    directions — floor(sqrt(float)) alone can misround near perfect
    squares for large n."""
    s = f"CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"({s} - (CASE WHEN {s} * {s} > {n} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN ({s} + 1) * ({s} + 1) <= {n} THEN 1 ELSE 0 END))"
    )


def mix_temperature_sqrt(docs: DataFrame, budget: int) -> DataFrame:
    """TEMPERATURE-sampled source mixture at α = 1/2: per-source
    quotas proportional to √n_s (the T5/multilingual α-sampling rule
    that up-weights small sources relative to proportional sampling),
    computed ENTIRELY in-engine with exact integers — w_s = isqrt(n_s)
    (float sqrt corrected to the true integer root), quota_s =
    budget·w_s div Σw — then the first quota_s docs of each source in
    cross-engine hash order (the :func:`mix_sources` ordering).

    Unlike :func:`mix_sources` the quotas are DERIVED from the corpus,
    so the mixture re-balances automatically as sources grow.

    Output: the kept docs with their ``mix_rank`` and the computed
    ``quota``. Σ quota ≤ budget (floor division; the remainder is
    deliberately unassigned — deterministic beats exactly-full).

    Scale shape: one O(sources) count agg, a broadcast quota join, and
    the single (source) window shuffle — the mix_sources cost.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    w_s = F.expr(_isqrt_expr("n_s"))
    weights = counts.select("source", "n_s", w_s.alias("w_s"))
    tot = weights.agg(F.sum("w_s").alias("tot_w"))
    quota = (
        weights.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(f"CAST({budget} AS BIGINT) * w_s div tot_w")
            .alias("quota"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        _rate_col(), F.col("doc_id").cast("string")
    )
    return (
        docs.withColumn("mix_rank", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select(
            "doc_id", "source",
            F.col("mix_rank").cast("long").alias("mix_rank"),
            F.col("quota").cast("long").alias("quota"),
        )
    )


def mix_temperature_sqrt_sql(budget: int) -> str:
    """DuckDB twin of :func:`mix_temperature_sqrt` over ``documents``."""
    return f"""
WITH counts AS (
  SELECT source, count(*) AS n_s FROM documents GROUP BY 1
),
weights AS (
  SELECT source, n_s, {_isqrt_expr('n_s')} AS w_s FROM counts
),
quota AS (
  SELECT source,
         CAST({budget} AS BIGINT) * w_s
           // (SELECT sum(w_s) FROM weights) AS quota
  FROM weights
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_rate_sql()}, CAST(doc_id AS VARCHAR)
         ) AS mix_rank
  FROM documents
)
SELECT r.doc_id, r.source, CAST(r.mix_rank AS BIGINT) AS mix_rank,
       CAST(q.quota AS BIGINT) AS quota
FROM ranked r JOIN quota q USING (source)
WHERE r.mix_rank <= q.quota
"""
