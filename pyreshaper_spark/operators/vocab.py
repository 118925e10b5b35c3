"""Token-level vocabulary analytics over the tokens payload axis.

The corpus tables carry token streams two ways: the engine's
``sequences.tokens`` column (array<int>, Spark-side ``xxhash64``
values — fast, but not reproducible in DuckDB) and, for the oracle
gate, a cross-engine stream derived per word via
:func:`pyreshaper_spark.functions.xhash.h32` (md5-based — byte-identical
in both engines, see xhash.py). Every operator here takes a generic
``tok(source, event_s, token)`` relation, so the SAME aggregation code
runs on either derivation: production uses
``explode_tokens(sequences)``; the driver's correctness gate feeds
:func:`token_stream` / :func:`token_cte` instead.

Scale notes (100 TB design point): explode multiplies rows by n_tok —
that is the token axis's intrinsic volume, and it never survives an
exchange: the first aggregate keys on (…, token) and Spark's partial
(map-side) hash agg collapses each input partition to its OCCUPIED key
count before the shuffle, which the bounded vocabulary (V = 50,257)
caps at O(sources × buckets × V) regardless of corpus size. Everything
downstream of that first aggregate is tier-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyreshaper_spark.config import EPOCH0, HORIZON_S
from pyreshaper_spark.fixtures import VOCAB_SIZE
from pyreshaper_spark.functions.xhash import h32, h32_sql, perm, perm_sql, words_col

from .rollup import bucket_col, floor_sql, floor_to


def explode_tokens(seq: DataFrame) -> DataFrame:
    """Production token stream: one row per token occurrence from the
    ``sequences`` table — (source, event_s, token)."""
    return seq.select(
        "source", "event_s", F.explode("tokens").alias("token")
    )


def token_stream(docs: DataFrame) -> DataFrame:
    """Oracle-comparable token stream built straight from ``documents``:
    token = h32(word) % V, event_s from the fixture's Lehmer spread —
    both derivations exactly expressible in DuckDB (:func:`token_cte`).
    """
    return docs.select(
        "source",
        (
            F.lit(EPOCH0)
            + F.pmod(
                F.col("doc_id").cast("long") * F.lit(48271) + F.lit(11),
                F.lit(HORIZON_S),
            )
        ).cast("long").alias("event_s"),
        F.explode(words_col()).alias("w"),
    ).select(
        "source",
        "event_s",
        F.pmod(h32(F.col("w")), F.lit(VOCAB_SIZE)).cast("long").alias("token"),
    )


def token_cte() -> str:
    """DuckDB CTE body defining the same `tok(source, event_s, token)`
    relation as :func:`token_stream`, from the `documents` view."""
    return f"""tok AS (
  SELECT source,
         {EPOCH0} + (doc_id * 48271 + 11) % {HORIZON_S} AS event_s,
         {h32_sql('w')} % {VOCAB_SIZE}                  AS token
  FROM (SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
)"""


def token_topk(tok: DataFrame, width_s: int, k: int) -> DataFrame:
    """Top-k most frequent tokens per (source, time bucket) — the
    drifting-vocabulary monitor ("what dominated this source this
    hour?").

    Two exchanges: the occurrence count keyed (source, bucket, token)
    — map-side partial agg collapses the exploded stream first, output
    bounded by the vocabulary — then a per-(source, bucket) top-k
    window over those counts. Ties break deterministically by token id
    ascending, so results are engine-portable.
    """
    counts = (
        tok.select("source", bucket_col(width_s, "event_s"), "token")
        .groupBy("source", "bucket_s", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source", "bucket_s").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "source",
            F.col("bucket_s").cast("long").alias("bucket_s"),
            F.col("token").cast("long").alias("token"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def token_topk_sql(width_s: int, k: int) -> str:
    """DuckDB twin of :func:`token_topk` over the `tok` CTE."""
    return f"""
SELECT source, bucket_s, token, cnt, rank FROM (
  SELECT source, bucket_s, token, cnt,
         row_number() OVER (PARTITION BY source, bucket_s
                            ORDER BY cnt DESC, token ASC) AS rank
  FROM (
    SELECT source,
           {floor_sql('event_s', width_s)} AS bucket_s,
           token,
           count(*) AS cnt
    FROM tok
    GROUP BY 1, 2, 3
  )
)
WHERE rank <= {k}
"""


def vocab_growth(tok: DataFrame, width_s: int) -> DataFrame:
    """Vocabulary-growth curve: per time bucket, how many tokens were
    seen for the FIRST time ever, plus the running distinct-vocabulary
    size — the heap's-law view of a training corpus.

    first-seen = min(bucket) per token (one aggregate, output ≤ V
    rows), then a V-row re-aggregate and one running-sum window over
    O(buckets) rows — nothing downstream of the first agg scales with
    the corpus.
    """
    first_seen = (
        tok.select(bucket_col(width_s, "event_s"), "token")
        .groupBy("token")
        .agg(F.min("bucket_s").alias("first_b"))
    )
    per_bucket = first_seen.groupBy(
        F.col("first_b").alias("bucket_s")
    ).agg(F.count("*").alias("new_tokens"))
    w = Window.orderBy("bucket_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("new_tokens").cast("long").alias("new_tokens"),
        F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
    )


def vocab_growth_sql(width_s: int) -> str:
    """DuckDB twin of :func:`vocab_growth` over the `tok` CTE."""
    return f"""
SELECT bucket_s,
       CAST(new_tokens AS BIGINT) AS new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY bucket_s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM (
  SELECT first_b AS bucket_s, count(*) AS new_tokens
  FROM (
    SELECT token, min({floor_sql('event_s', width_s)}) AS first_b
    FROM tok GROUP BY 1
  )
  GROUP BY 1
)
"""


def token_ndv(tok: DataFrame, width_s: int) -> DataFrame:
    """Distinct-token count per (source, bucket) — vocabulary coverage
    over time (the tokens-axis sibling of ``rollup.bucket_ndv``). Exact
    distinct shuffles each distinct (group, token) once — bounded by
    the vocabulary; ``approx_count_distinct`` is the sketch path for
    unbounded id spaces."""
    return (
        tok.select("source", bucket_col(width_s, "event_s"), "token")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").cast("long").alias("n_tok_occ"),
            F.countDistinct("token").cast("long").alias("ndv_token"),
        )
        .select(
            "source",
            F.col("bucket_s").cast("long").alias("bucket_s"),
            "n_tok_occ", "ndv_token",
        )
    )


def token_ndv_sql(width_s: int) -> str:
    """DuckDB twin of :func:`token_ndv` over the `tok` CTE."""
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)} AS bucket_s,
       count(*)                           AS n_tok_occ,
       count(DISTINCT token)              AS ndv_token
FROM tok
GROUP BY 1, 2
"""


def seqs_cte(vocab_size: int = VOCAB_SIZE) -> str:
    """DuckDB CTE body defining `seqs(doc_id, source, tokens)` — the
    md5-derived cross-engine token ARRAYS (order preserved, unlike the
    exploded `tok` stream) for the bigram/rarity oracles."""
    return f"""seqs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         list_transform(regexp_split_to_array(lower(text), '\\s+'),
                        w -> {h32_sql('w')} % {vocab_size}) AS tokens
  FROM documents
)"""


def bigram_counts(seq: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Adjacent-token bigram counts per source — (source, t1, t2, c_xy).

    Bigrams need ORDER, so unlike the other vocab operators this one
    takes the sequences-shaped relation (source, tokens:array<int>)
    rather than the exploded ``tok`` stream. Each doc contributes
    ``n_tok − 1`` packed keys ``t1·V + t2`` (one BIGINT — no struct key
    crosses the exchange); the first aggregate's map-side partial agg
    collapses each input partition to its occupied bigram-type count,
    so shuffle volume is bounded by distinct bigram types per
    partition, never by corpus size.
    """
    toks = F.col("tokens")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    bg = F.transform(
        idx,
        lambda i: F.element_at(toks, i).cast("long") * vocab_size
        + F.element_at(toks, i + 1).cast("long"),
    )
    return (
        seq.select("source", F.explode(bg).alias("bg"))
        .groupBy("source", "bg")
        .agg(F.count("*").alias("c_xy"))
        .select(
            "source",
            F.expr(f"CAST(bg DIV {vocab_size} AS BIGINT)").alias("t1"),
            F.pmod(F.col("bg"), F.lit(vocab_size)).cast("long").alias("t2"),
            F.col("c_xy").cast("long").alias("c_xy"),
        )
    )


def bigram_pmi(
    seq: DataFrame,
    vocab_size: int = VOCAB_SIZE,
    min_count: int = 2,
    assoc_num: int = 8,
    assoc_den: int = 1,
) -> DataFrame:
    """Pointwise-mutual-information association mining over adjacent
    token pairs — the collocation detector ("which token pairs co-occur
    far above chance?") a tokenizer/merge-rule audit needs.

    PMI itself is a log — float, not oracle-hashable — so the operator
    emits the EXACT sufficient statistics per (source, t1, t2):
    bigram count ``c_xy``, unigram counts ``c_x``/``c_y``, per-source
    totals ``n_uni`` (token occurrences) and ``n_big`` (bigram
    positions), plus the exact association flag

        assoc  ⇔  p(x,y) / (p(x)·p(y)) ≥ assoc_num/assoc_den
               ⇔  c_xy · n_uni² · assoc_den ≥ c_x · c_y · n_big · assoc_num

    cross-multiplied in decimal(38,0) (DuckDB HUGEINT) — exact while
    products fit 38 digits (~1e13-token corpora); beyond that use the
    float :func:`pmi_finish`. ``min_count`` drops singleton bigrams
    BEFORE the joins (the classic PMI-noise guard — and the result-size
    bound: survivors ≤ n_big/min_count).

    Scale shape: unigram counts and per-source totals are
    vocabulary-/source-bounded → both broadcast; the only large
    relation (bigram types) is touched once.
    """
    big_all = bigram_counts(seq, vocab_size)
    big = big_all.filter(F.col("c_xy") >= min_count)
    uni = (
        seq.select("source", F.explode("tokens").alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    totals = uni.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_uni")
    )
    n_big = big_all.groupBy("source").agg(
        F.sum("c_xy").cast("long").alias("n_big")
    )
    d18 = "decimal(18,0)"
    out = (
        big.join(
            F.broadcast(
                uni.select(
                    "source",
                    F.col("token").alias("t1"),
                    F.col("c").alias("c_x"),
                )
            ),
            ["source", "t1"],
        )
        .join(
            F.broadcast(
                uni.select(
                    "source",
                    F.col("token").alias("t2"),
                    F.col("c").alias("c_y"),
                )
            ),
            ["source", "t2"],
        )
        .join(F.broadcast(totals), "source")
        .join(F.broadcast(n_big), "source")
    )
    lhs = (
        F.col("c_xy").cast(d18)
        * F.col("n_uni").cast(d18)
        * F.col("n_uni").cast(d18)
        * F.lit(assoc_den).cast(d18)
    )
    rhs = (
        F.col("c_x").cast(d18)
        * F.col("c_y").cast(d18)
        * F.col("n_big").cast(d18)
        * F.lit(assoc_num).cast(d18)
    )
    return out.select(
        "source",
        "t1",
        "t2",
        "c_xy",
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        "n_uni",
        "n_big",
        (lhs >= rhs).alias("assoc"),
    )


def pmi_finish(stats: DataFrame) -> DataFrame:
    """Float PMI from the exact statistics (derived metric — pytest
    vs math.log, not oracle-hashed): log2[(c_xy/n_big)/((c_x/n_uni)·
    (c_y/n_uni))]."""
    return stats.withColumn(
        "pmi",
        F.log2(
            (F.col("c_xy") / F.col("n_big"))
            / ((F.col("c_x") / F.col("n_uni")) * (F.col("c_y") / F.col("n_uni")))
        ),
    )


def bigram_pmi_sql(
    vocab_size: int = VOCAB_SIZE,
    min_count: int = 2,
    assoc_num: int = 8,
    assoc_den: int = 1,
) -> str:
    """DuckDB twin of :func:`bigram_pmi` over a `seqs(source, tokens)`
    CTE (md5-derived token arrays — see :func:`seqs_cte`)."""
    return f"""
big AS (
  SELECT source, bg // {vocab_size} AS t1, bg % {vocab_size} AS t2,
         count(*) AS c_xy
  FROM (
    SELECT source,
           unnest(list_transform(
             generate_series(1, greatest(len(tokens) - 1, 0)),
             i -> CAST(tokens[i] AS BIGINT) * {vocab_size}
                  + CAST(tokens[i + 1] AS BIGINT))) AS bg
    FROM seqs)
  GROUP BY 1, 2, 3
),
uni AS (
  SELECT source, token, count(*) AS c
  FROM (SELECT source, unnest(tokens) AS token FROM seqs)
  GROUP BY 1, 2
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_uni FROM uni GROUP BY 1),
nb  AS (SELECT source, CAST(sum(c_xy) AS BIGINT) AS n_big FROM big GROUP BY 1)
SELECT big.source, t1, t2, c_xy,
       CAST(ux.c AS BIGINT) AS c_x,
       CAST(uy.c AS BIGINT) AS c_y,
       n_uni, n_big,
       CAST(c_xy AS HUGEINT) * n_uni * n_uni * {assoc_den}
         >= CAST(ux.c AS HUGEINT) * uy.c * n_big * {assoc_num} AS assoc
FROM big
JOIN uni ux ON ux.source = big.source AND ux.token = big.t1
JOIN uni uy ON uy.source = big.source AND uy.token = big.t2
JOIN tot ON tot.source = big.source
JOIN nb  ON nb.source = big.source
WHERE c_xy >= {min_count}
"""


def doc_rarity(
    seq: DataFrame, max_df: int, num: int = 1, den: int = 10
) -> DataFrame:
    """Token-rarity document quality: per doc, how much of it is made
    of tokens that barely occur elsewhere — the OOV/garbage detector
    (mojibake, hex dumps, and mis-tokenized text are exactly the docs
    whose tokens have tiny document frequency).

    Output (doc_id, n_occ, n_rare, min_df, rare_heavy): ``n_rare``
    counts token OCCURRENCES whose token appears in ≤ ``max_df``
    documents; ``rare_heavy`` is the exact threshold
    ``n_rare/n_occ ≥ num/den``.

    Scale shape: document frequency is a partial+final hash agg
    bounded by the vocabulary; its broadcast joins back onto the token
    stream (one row per distinct token — a hot token is still one row);
    the per-doc re-aggregate groups rows that are already doc-local.
    """
    tok = seq.select("doc_id", F.explode("tokens").alias("token"))
    df_tbl = tok.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    return (
        tok.join(F.broadcast(df_tbl), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.sum(F.when(F.col("df") <= max_df, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
            F.min("df").cast("long").alias("min_df"),
        )
        .withColumn(
            "rare_heavy",
            F.col("n_rare") * F.lit(den) >= F.col("n_occ") * F.lit(num),
        )
    )


def doc_rarity_sql(max_df: int, num: int = 1, den: int = 10) -> str:
    """DuckDB twin of :func:`doc_rarity` over a `seqs(doc_id, tokens)`
    CTE."""
    return f"""
tokstream AS (SELECT doc_id, unnest(tokens) AS token FROM seqs),
dfx AS (SELECT token, count(DISTINCT doc_id) AS df FROM tokstream GROUP BY 1)
SELECT doc_id,
       count(*)                                         AS n_occ,
       CAST(sum(CASE WHEN df <= {max_df} THEN 1 ELSE 0 END) AS BIGINT)
                                                        AS n_rare,
       CAST(min(df) AS BIGINT)                          AS min_df,
       CAST(sum(CASE WHEN df <= {max_df} THEN 1 ELSE 0 END) AS BIGINT)
         * {den} >= count(*) * {num}                    AS rare_heavy
FROM tokstream JOIN dfx USING (token)
GROUP BY 1
"""


def doc_lm_score(seq: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Bigram-LM fluency score per doc — the KenLM-style quality filter
    of training-data pipelines, kept EXACT-integer so both engines hash
    identically: instead of float log-probabilities, each bigram
    contributes ``bitlen(corpus count)`` (= ``floor(log2 c) + 1``,
    computed as ``length(bin(c))`` in both Spark and DuckDB).

    Output (doc_id, n_bg, sum_bits, min_c, avg_mbits): ``sum_bits`` is
    the integer log-likelihood proxy, ``avg_mbits`` its per-bigram mean
    in millibits (``sum_bits*1000 div n_bg``), ``min_c`` the rarest
    bigram's corpus count (a doc whose every bigram is common scores
    high; mojibake and shuffled text score low). Docs with fewer than
    two tokens contribute no bigrams and are absent.

    Scale shape: the count table is a partial+final hash agg bounded by
    distinct bigram TYPES (never corpus size — each input partition
    collapses map-side); the join back onto the doc stream is a plain
    equi-join on the packed ``t1·V + t2`` BIGINT key (the count table
    can approach V² rows, too big to assume broadcastable); the final
    per-doc agg groups doc-local rows.
    """
    toks = F.col("tokens")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    bg = F.transform(
        idx,
        lambda i: F.element_at(toks, i).cast("long") * vocab_size
        + F.element_at(toks, i + 1).cast("long"),
    )
    stream = seq.select("doc_id", F.explode(bg).alias("bg"))
    counts = stream.groupBy("bg").agg(F.count("*").alias("c_xy"))
    return (
        stream.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bg"),
            F.sum(F.length(F.bin("c_xy"))).cast("long").alias("sum_bits"),
            F.min("c_xy").cast("long").alias("min_c"),
        )
        .withColumn("avg_mbits", F.expr("sum_bits * 1000 div n_bg"))
    )


def doc_lm_score_sql(vocab_size: int = VOCAB_SIZE) -> str:
    """DuckDB twin of :func:`doc_lm_score` over a `seqs(doc_id, tokens)`
    CTE."""
    return f"""
stream AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(tokens) - 1, 0)),
           i -> CAST(tokens[i] AS BIGINT) * {vocab_size}
                + CAST(tokens[i + 1] AS BIGINT))) AS bg
  FROM seqs
),
cnts AS (SELECT bg, count(*) AS c_xy FROM stream GROUP BY 1)
SELECT doc_id,
       count(*)                                   AS n_bg,
       CAST(sum(length(bin(c_xy))) AS BIGINT)     AS sum_bits,
       CAST(min(c_xy) AS BIGINT)                  AS min_c,
       CAST(sum(length(bin(c_xy))) AS BIGINT) * 1000 // count(*)
                                                  AS avg_mbits
FROM stream JOIN cnts USING (bg)
GROUP BY 1
"""


def top_bigram_share(
    seq: DataFrame, vocab_size: int = VOCAB_SIZE, num: int = 2, den: int = 10
) -> DataFrame:
    """Gopher-style top-2-gram dominance per doc: how much of the
    document its single most frequent word bigram occupies (the
    repetition rule next to ``doc_ngram_repetition``'s duplicate-
    trigram fraction; Gopher measures the char fraction, this the
    bigram-occurrence fraction).

    ZERO-shuffle: the doc's packed bigram array is sorted in place
    (``sort_array``) and the longest equal-value run found with one
    higher-order ``aggregate`` — a pure codegen projection, no explode
    and no per-doc re-aggregation. At 10^12 docs this is the map-only
    shape you want; the DuckDB oracle takes the conventional
    unnest+group-by route and must agree.

    Output (doc_id, n_bg, top_cnt, rep_heavy): ``rep_heavy`` is the
    exact threshold ``top_cnt/n_bg ≥ num/den``. Docs with fewer than
    two tokens have no bigrams and are absent.
    """
    toks = F.col("tokens")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    bg = F.sort_array(
        F.transform(
            idx,
            lambda i: F.element_at(toks, i).cast("long") * vocab_size
            + F.element_at(toks, i + 1).cast("long"),
        )
    )
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit(-1).cast("long").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(bg, acc0, step)["best"]
    return (
        seq.select(
            "doc_id",
            F.size(bg).cast("long").alias("n_bg"),
            top.alias("top_cnt"),
        )
        .filter(F.col("n_bg") >= 1)
        .withColumn(
            "rep_heavy",
            F.col("top_cnt") * F.lit(den) >= F.col("n_bg") * F.lit(num),
        )
    )


def top_bigram_share_sql(
    vocab_size: int = VOCAB_SIZE, num: int = 2, den: int = 10
) -> str:
    """DuckDB twin of :func:`top_bigram_share` over a
    `seqs(doc_id, tokens)` CTE — conventional unnest + group-by."""
    return f"""
stream AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(tokens) - 1, 0)),
           i -> CAST(tokens[i] AS BIGINT) * {vocab_size}
                + CAST(tokens[i + 1] AS BIGINT))) AS bg
  FROM seqs
),
per AS (SELECT doc_id, bg, count(*) AS c FROM stream GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bg,
       CAST(max(c) AS BIGINT) AS top_cnt,
       CAST(max(c) AS BIGINT) * {den}
         >= CAST(sum(c) AS BIGINT) * {num} AS rep_heavy
FROM per GROUP BY 1
"""


def token_zipf(tok: DataFrame) -> DataFrame:
    """Frequency-rank curve of the token distribution — the Zipf view
    a corpus-health dashboard plots (a healthy natural-language corpus
    is near-linear in log-log; boilerplate floods flatten the head,
    mojibake fattens the tail). Output (rank, token, cnt), rank 1 =
    most frequent, ties broken by token id ascending.

    The global window ranks the VOCABULARY-bounded count table (≤ V
    rows regardless of corpus size) — the corpus-sized work is the
    partial+final count agg before it, so the single-partition window
    sort is O(V log V), not a scale hazard. The Zipf exponent is a
    float fit → :func:`zipf_finish`, pytest vs numpy.polyfit.
    """
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return counts.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("token").cast("long").alias("token"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def zipf_finish(curve: DataFrame) -> DataFrame:
    """Least-squares slope of log(cnt) vs log(rank) — the Zipf
    exponent (≈ −1 for natural text). Float output, derived metric:
    one row (slope, intercept, n)."""
    pts = curve.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / n).alias("intercept"),
    )


def token_zipf_sql() -> str:
    """DuckDB twin of :func:`token_zipf` over the `tok` CTE."""
    return """
SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
       token, cnt
FROM (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
"""


def doc_tfidf(seq: DataFrame) -> DataFrame:
    """Exact-integer TF-IDF document scoring — the classic
    informativeness ranking (a doc of boilerplate/stopword-like tokens
    scores low; a doc of corpus-rare terms scores high), complementing
    :func:`doc_rarity`'s binary rare-token counter with the standard
    frequency-weighted form.

    Integer quantization: ``idf_ppm(t) = N·10⁶ div df(t)`` (N = corpus
    docs, df = docs containing t; the raw N/df odds in ppm — monotone
    in textbook log-idf, exact across engines), and the doc score is
    the tf-weighted mean ``tfidf_ppm = Σ_t c_td·idf_ppm(t) div n_occ``.
    The weighted sum accumulates in decimal(38,0) (HUGEINT in the
    oracle) — c·idf_ppm wraps int64 once N·10⁶ passes ~9·10¹⁸/c, the
    same wrap class bucket_fano guards against.

    Scale shape: one corpus-sized (doc, token) aggregate; document
    frequency is its VOCABULARY-bounded re-aggregate joined back
    BROADCAST; N rides a 1-row broadcast cross. Same plan family as
    :func:`doc_rarity`.
    """
    tok = seq.select("doc_id", F.explode("tokens").alias("token"))
    ctd = tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    dfx = ctd.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    nd = seq.agg(F.count("*").cast("long").alias("nd"))
    return (
        ctd.join(F.broadcast(dfx), "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "idf_ppm",
            F.expr(
                "CAST(CAST(nd AS DECIMAL(19,0)) * 1000000 "
                "div df AS BIGINT)"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_occ"),
            F.count("*").cast("long").alias("n_terms"),
            F.sum(
                F.expr("CAST(c AS DECIMAL(19,0)) * idf_ppm")
            ).cast("decimal(38,0)").alias("_s"),
        )
        .select(
            "doc_id",
            "n_occ",
            "n_terms",
            F.expr("CAST(_s div n_occ AS BIGINT)").alias("tfidf_ppm"),
        )
    )


def doc_tfidf_sql() -> str:
    """DuckDB twin of :func:`doc_tfidf` over a `seqs(doc_id, tokens)`
    CTE."""
    return """
tokstream AS (SELECT doc_id, unnest(tokens) AS token FROM seqs),
ctd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
        FROM tokstream GROUP BY 1, 2),
dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM ctd GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM seqs),
wt AS (
  SELECT ctd.doc_id, ctd.c,
         CAST(CAST(nd.nd AS HUGEINT) * 1000000 // dfx.df AS BIGINT)
           AS idf_ppm
  FROM ctd JOIN dfx USING (token) CROSS JOIN nd
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT)  AS n_occ,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CAST(c AS HUGEINT) * idf_ppm) // sum(c) AS BIGINT)
         AS tfidf_ppm
FROM wt
GROUP BY 1
"""


def token_coverage(
    tok: DataFrame, ks: tuple[int, ...] = (16, 64, 256, 1024)
) -> DataFrame:
    """Head-coverage curve of the token distribution: for each budget
    ``k``, how many token OCCURRENCES the top-``k`` most frequent
    tokens cover — the tokenizer-health view behind "how big a
    vocabulary do we actually need" / "is the corpus boilerplate-heavy"
    (a flat curve means a fat tail; 1024 tokens covering 99% means a
    flooded head).

    Exact integers: covered_ppm = covered·10⁶ div total. Ties rank by
    token id ascending, so the curve is engine-portable.

    Scale shape: the corpus-sized work is the per-token count
    (partial+final agg, output ≤ V rows); the rank + running-sum
    windows run on that VOCABULARY-bounded table (same documented
    O(V log V) bound as :func:`token_zipf`); the k-budget table is a
    handful of literal rows joined broadcast, and the grand total rides
    a 1-row broadcast.
    """
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the grand total rides the SAME single-partition sort as the
    # running sum (unbounded frame) — no second pass over the corpus
    wall = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("cnt").over(wsum).cast("long").alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("total"),
    )
    ks_rows = (
        tok.sparkSession.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(int(k)).cast("long") for k in sorted(ks)])
            ).alias("k")
        )
    )
    return (
        ranked.join(F.broadcast(ks_rows), F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.max("rank").cast("long").alias("top_tokens"),
            F.max("cum").cast("long").alias("covered_cnt"),
            F.max("total").cast("long").alias("total_cnt"),
        )
        .select(
            "k",
            "top_tokens",
            "covered_cnt",
            "total_cnt",
            # decimal(38,0) product — covered·10⁶ wraps int64 once the
            # corpus passes ~9·10¹² occurrences (same guard as doc_tfidf)
            F.expr(
                "CAST(CAST(covered_cnt AS DECIMAL(38,0)) * 1000000 "
                "div total_cnt AS BIGINT)"
            ).alias("covered_ppm"),
        )
    )


def token_coverage_sql(ks: tuple[int, ...] = (16, 64, 256, 1024)) -> str:
    """DuckDB twin of :func:`token_coverage` over the `tok` CTE
    (CTE continuation — append after a WITH chain)."""
    klist = ", ".join(str(int(k)) for k in sorted(ks))
    return f"""
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS total
  FROM counts
),
ks AS (SELECT unnest([{klist}]) AS k)
SELECT CAST(k AS BIGINT) AS k,
       CAST(max(rank) AS BIGINT) AS top_tokens,
       CAST(max(cum) AS BIGINT)  AS covered_cnt,
       CAST(max(total) AS BIGINT) AS total_cnt,
       CAST(CAST(max(cum) AS HUGEINT) * 1000000
            // CAST(max(total) AS BIGINT) AS BIGINT) AS covered_ppm
FROM ranked, ks
WHERE rank <= k
GROUP BY k
"""


def token_burst(
    tok: DataFrame,
    width_s: int,
    lift_num: int = 2,
    lift_den: int = 1,
    min_count: int = 2,
) -> DataFrame:
    """Bursty tokens: (bucket, token) pairs whose in-bucket share is
    at least ``lift_num/lift_den`` times the token's corpus-wide share
    (and seen ≥ ``min_count`` times in the bucket) — the trending-term
    / spam-flood monitor over the token stream.

    Exact: the lift predicate
    ``c_tb/N_b ≥ L · C_t/N`` is evaluated as the cross-multiplication
    ``c_tb·N·lift_den ≥ lift_num·N_b·C_t`` in decimal(38,0) (HUGEINT in
    the oracle) — no float shares ever computed.

    Scale shape: ONE corpus-sized aggregation — the (bucket, token)
    count (partial agg collapses the exploded stream map-side, output
    bounded by buckets × occupied vocabulary). Bucket totals, token
    totals, and the grand total are all re-aggregations of that table;
    totals join back on bucket / token equi-keys and the 1-row grand
    total rides a broadcast.
    """
    D = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ctb = (
        tok.select(bucket_col(width_s), "token")
        .groupBy("bucket_s", "token")
        .agg(F.count("*").alias("c"))
    )
    nb = ctb.groupBy("bucket_s").agg(F.sum("c").alias("n_b"))
    ct = ctb.groupBy("token").agg(F.sum("c").alias("c_t"))
    n = ctb.agg(F.sum("c").alias("n"))
    return (
        ctb.join(nb, "bucket_s")
        .join(ct, "token")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("c") >= min_count)
            & (
                D(F.col("c")) * D(F.col("n")) * F.lit(lift_den)
                >= F.lit(lift_num) * D(F.col("n_b")) * D(F.col("c_t"))
            )
        )
        .select(
            F.col("bucket_s").cast("long").alias("bucket_s"),
            F.col("token").cast("long").alias("token"),
            F.col("c").cast("long").alias("cnt"),
        )
    )


def token_burst_sql(
    width_s: int,
    lift_num: int = 2,
    lift_den: int = 1,
    min_count: int = 2,
) -> str:
    """DuckDB twin of :func:`token_burst` over the `tok` CTE."""
    return f"""
SELECT CAST(ctb.bucket_s AS BIGINT) AS bucket_s,
       CAST(ctb.token AS BIGINT)    AS token,
       CAST(ctb.c AS BIGINT)        AS cnt
FROM (
  SELECT {floor_sql('event_s', width_s)} AS bucket_s, token,
         count(*) AS c
  FROM tok GROUP BY 1, 2
) ctb
JOIN (
  SELECT {floor_sql('event_s', width_s)} AS bucket_s,
         count(*) AS n_b
  FROM tok GROUP BY 1
) nb ON ctb.bucket_s = nb.bucket_s
JOIN (
  SELECT token, count(*) AS c_t FROM tok GROUP BY 1
) ct ON ctb.token = ct.token
CROSS JOIN (SELECT count(*) AS n FROM tok) g
WHERE ctb.c >= {min_count}
  AND CAST(ctb.c AS HUGEINT) * g.n * {lift_den}
      >= {lift_num} * CAST(nb.n_b AS HUGEINT) * ct.c_t
"""


def token_simpson(tok: DataFrame, width_s: int) -> DataFrame:
    """Simpson diversity of the token distribution per (source,
    bucket), as the exact integer pair
    ``(num, den) = (Σ c·(c−1), N·(N−1))`` — num/den is the probability
    two tokens drawn without replacement coincide (1/D of ecology's
    Simpson index; the Gini readout's collision-probability cousin).
    Repetition floods push num/den toward 1; diverse text toward 0.
    No float leaves the engine.

    Scale: one (source, bucket, token) partial+final count agg
    (bounded by occupied vocabulary per bucket), then a per-bucket
    re-aggregation of those counts.
    """
    counts = (
        tok.select("source", bucket_col(width_s), "token")
        .groupBy("source", "bucket_s", "token")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("source", "bucket_s")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1)).alias("num"),
            F.sum("c").alias("nn"),
        )
        .select(
            "source",
            F.col("bucket_s").cast("long").alias("bucket_s"),
            F.col("num").cast("long").alias("simpson_num"),
            (F.col("nn") * (F.col("nn") - 1)).cast("long")
            .alias("simpson_den"),
        )
    )


def token_simpson_sql(width_s: int) -> str:
    """DuckDB twin of :func:`token_simpson` over the `tok` CTE."""
    return f"""
SELECT source, CAST(bucket_s AS BIGINT) AS bucket_s,
       CAST(sum(c * (c - 1)) AS BIGINT) AS simpson_num,
       CAST(sum(c) * (sum(c) - 1) AS BIGINT) AS simpson_den
FROM (
  SELECT source, {floor_sql('event_s', width_s)} AS bucket_s, token,
         count(*) AS c
  FROM tok GROUP BY 1, 2, 3
)
GROUP BY 1, 2
"""


def token_cms(
    tok: DataFrame, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch of per-source token frequencies: ``depth``
    independent hash rows × ``width`` counters — the mergeable
    heavy-hitter path for id spaces too large to aggregate exactly
    (:func:`token_topk` shuffles O(occupied vocabulary) keys; the
    sketch caps state at depth × width counters per source regardless
    of vocabulary size, and sketches merge by cell-wise addition, so
    tier cascades / append cycles union for free).

    Determinism across engines: row i's bucket is the xhash universal
    permutation (``(a_i·h + b_i) mod P31``, fixed constants) of the
    md5-derived 32-bit token hash, mod ``width`` — byte-identical in
    DuckDB (:func:`token_cms_sql`), so the full counter table is
    oracle-hashable, unlike engine-specific sketch blobs.

    Point estimates (min over rows of the probed cells) come from
    :func:`cms_estimate`; the classic bound err ≤ e/width · N holds per
    row with probability 1 − e^−depth.
    """
    hh = h32(F.col("token").cast("string"))
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("cms_row"),
                F.pmod(perm(i, hh), F.lit(width)).alias("cms_bucket"),
            )
            for i in range(depth)
        ])
    ).alias("cell")
    return (
        tok.select("source", rows)
        .groupBy(
            "source",
            F.col("cell.cms_row").alias("cms_row"),
            F.col("cell.cms_bucket").alias("cms_bucket"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            "source",
            F.col("cms_row").cast("long").alias("cms_row"),
            F.col("cms_bucket").cast("long").alias("cms_bucket"),
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


def cms_estimate(
    cms: DataFrame, tokens: DataFrame, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-query the sketch: estimated occurrence count per
    (source, token) = min over the depth rows of the probed cells.
    ``tokens`` carries (source, token) probe rows; the probe explodes
    into its depth cells and equi-joins the sketch — never a scan."""
    hh = h32(F.col("token").cast("string"))
    probes = tokens.select(
        "source",
        "token",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("cms_row"),
                    F.pmod(perm(i, hh), F.lit(width)).alias("cms_bucket"),
                )
                for i in range(depth)
            ])
        ).alias("cell"),
    ).select(
        "source", "token",
        F.col("cell.cms_row").cast("long").alias("cms_row"),
        F.col("cell.cms_bucket").cast("long").alias("cms_bucket"),
    )
    return (
        probes.join(cms, ["source", "cms_row", "cms_bucket"])
        .groupBy("source", "token")
        .agg(F.min("cnt").cast("long").alias("est_cnt"))
    )


def token_cms_sql(depth: int = 4, width: int = 64) -> str:
    """DuckDB twin of :func:`token_cms` over the `tok` CTE."""
    h = h32_sql("CAST(token AS VARCHAR)")
    arms = [
        f"SELECT source, {i} AS cms_row, "
        f"({perm_sql(i, h)}) % {width} AS cms_bucket "
        f"FROM tok"
        for i in range(depth)
    ]
    cells = "\nUNION ALL\n".join(arms)
    return f"""
SELECT source, cms_row, cms_bucket, count(*) AS cnt
FROM ({cells})
GROUP BY 1, 2, 3
"""


def token_gini(tok: DataFrame, width_s: int) -> DataFrame:
    """Token-distribution inequality per (source, bucket) as an exact
    integer Gini numerator — the repetitiveness monitor (a bucket whose
    tokens concentrate on a few types is boilerplate/spam-like; a flat
    distribution is organic text).

    With per-type counts c₁ ≤ … ≤ c_k (rank r by count asc, token asc)
    the Gini coefficient is G = (2·Σ r·c_r − (k+1)·n) / (k·n); the
    engine ships the exact integers (n_occ, n_types, gini_num =
    2·Σ r·c_r − (k+1)·n) and the float face is the reader's division —
    same discipline as the moments/share families. Stage 1 collapses
    the exploded stream map-side (bounded by the vocabulary); stage 2
    is one rank window + hash agg over type counts — O(sources ×
    buckets × V) regardless of corpus size."""
    counts = (
        tok.select("source", bucket_col(width_s, "event_s"), "token")
        .groupBy("source", "bucket_s", "token")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("source", "bucket_s").orderBy(
        F.col("c").asc(), F.col("token").asc()
    )
    ranked = counts.withColumn("r", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("source", F.col("bucket_s").cast("long").alias("bucket_s"))
        .agg(
            F.sum("c").cast("long").alias("n_occ"),
            F.count("*").cast("long").alias("n_types"),
            F.sum(F.col("r") * F.col("c")).cast("long").alias("rc_sum"),
        )
        .select(
            "source", "bucket_s", "n_occ", "n_types",
            (2 * F.col("rc_sum") - (F.col("n_types") + 1) * F.col("n_occ"))
            .cast("long").alias("gini_num"),
        )
    )


def token_gini_sql(width_s: int) -> str:
    """DuckDB twin of :func:`token_gini` over the `tok` CTE."""
    return f"""
SELECT source, bucket_s,
       CAST(n_occ AS BIGINT)   AS n_occ,
       CAST(n_types AS BIGINT) AS n_types,
       CAST(2 * rc_sum - (n_types + 1) * n_occ AS BIGINT) AS gini_num
FROM (
  SELECT source, bucket_s,
         sum(c)     AS n_occ,
         count(*)   AS n_types,
         sum(r * c) AS rc_sum
  FROM (
    SELECT source, bucket_s, c,
           row_number() OVER (PARTITION BY source, bucket_s
                              ORDER BY c ASC, token ASC) AS r
    FROM (SELECT source,
                 {floor_sql('event_s', width_s)} AS bucket_s,
                 token, count(*) AS c
          FROM tok GROUP BY 1, 2, 3)
  )
  GROUP BY 1, 2
)
"""


def doc_ngram_repetition(
    seq: DataFrame, n: int = 3, vocab_size: int = VOCAB_SIZE
) -> DataFrame:
    """Per-document duplicate-n-gram statistics — the Gopher/C4-style
    repetition quality rule on token streams: a document whose n-grams
    repeat heavily is boilerplate (dup_frac = 1 − n_types/n_ngrams; the
    engine ships the exact pair plus the hottest n-gram's count, floats
    are the reader's).

    Each doc contributes max(len−n+1, 0) packed int64 keys
    (Σ tokenᵢ·Vⁿ⁻¹⁻ⁱ — V=50257, n=3 peaks at ~1.3·10¹⁴, safely int64);
    the (doc_id, ngram) count collapses map-side within each doc's
    partition, so shuffle volume is bounded by distinct n-grams per
    doc. Docs shorter than n tokens emit no row (no n-grams exist) —
    identical in the oracle."""
    if n < 2 or vocab_size ** (n - 1) > (1 << 62) // vocab_size:
        raise ValueError("n must be ≥2 and V^n must fit int64")
    toks = F.col("tokens")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))

    def _pack(i):
        acc = F.element_at(toks, i).cast("long")
        for j in range(1, n):
            acc = acc * vocab_size + F.element_at(toks, i + j).cast("long")
        return acc

    grams = seq.select(
        "doc_id", F.explode(F.transform(idx, _pack)).alias("g")
    )
    return (
        grams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_ngrams"),
            F.count("*").cast("long").alias("n_types"),
            F.max("c").cast("long").alias("max_cnt"),
        )
    )


def doc_ngram_repetition_sql(
    n: int = 3, vocab_size: int = VOCAB_SIZE
) -> str:
    """DuckDB twin of :func:`doc_ngram_repetition` over the `seqs` CTE
    (md5-derived token arrays — :func:`seqs_cte`)."""
    pack = "CAST(tokens[i] AS BIGINT)"
    for j in range(1, n):
        pack = f"({pack} * {vocab_size} + CAST(tokens[i + {j}] AS BIGINT))"
    return f"""
SELECT doc_id,
       CAST(sum(c) AS BIGINT)   AS n_ngrams,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(max(c) AS BIGINT)   AS max_cnt
FROM (
  SELECT doc_id, g, count(*) AS c
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(tokens) - {n - 1}, 0)),
             i -> {pack})) AS g
    FROM seqs)
  GROUP BY 1, 2
)
GROUP BY 1
"""


def source_token_tvd(tok: DataFrame) -> DataFrame:
    """Pairwise total-variation distance between per-source token
    distributions — the data-mixture health matrix ("how different is
    source A's token mix from source B's?"), the cross-sectional twin
    of :func:`~pyreshaper_spark.operators.drift.histogram_drift_tvd`'s
    over-time drift.

    Exact integers via cross-multiplication (the engine never divides):
    with c_t = count of token t in source a (total n_a) and d_t in
    source b (total n_b),

        2 * n_a * n_b * TVD(a, b)
            = sum_co |c_t*n_b - d_t*n_a|
              + (n_a - sum_co c_t) * n_b + (n_b - sum_co d_t) * n_a

    where ``co`` ranges over tokens present in BOTH sources — tokens on
    one side only contribute their full cross-multiplied mass through
    the complement terms. A shared-token EQUI-join therefore suffices;
    no full-outer join, no per-pair union of vocabularies.

    Scale shape: the (source, token) count is one partial+final hash
    agg bounded by |S| x V; the token self-join fans out to at most
    V * |S|^2 / 2 rows (V bounded, |S| small); source totals broadcast.
    Sums are decimal(38,0) — n_a * n_b stays exact far past int64 at
    corpus scale. Pairs sharing no token are restored from the tiny
    totals grid (TVD = 1, i.e. num = 2 * n_a * n_b).
    """
    dec = "decimal(38,0)"
    cnt = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    ca = cnt.select(
        F.col("source").alias("src_a"), "token", F.col("c").alias("c_a")
    )
    cb = cnt.select(
        F.col("source").alias("src_b"), "token", F.col("c").alias("c_b")
    )
    na = tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    co = (
        ca.join(cb, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("c_a").cast(dec) * F.col("n_b").cast(dec)
                    - F.col("c_b").cast(dec) * F.col("n_a").cast(dec)
                )
            ).alias("co_num"),
            F.sum("c_a").alias("co_a"),
            F.sum("c_b").alias("co_b"),
        )
    )
    grid = na.join(F.broadcast(nb), na.src_a < nb.src_b)
    return (
        grid.join(co, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            (
                F.coalesce(F.col("co_num"), F.lit(0).cast(dec))
                + (F.col("n_a") - F.coalesce(F.col("co_a"), F.lit(0))).cast(dec)
                * F.col("n_b").cast(dec)
                + (F.col("n_b") - F.coalesce(F.col("co_b"), F.lit(0))).cast(dec)
                * F.col("n_a").cast(dec)
            ).cast(dec).alias("tvd_num"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )


def source_token_tvd_sql() -> str:
    """DuckDB twin of :func:`source_token_tvd` — CONTINUES a WITH chain
    opened by :func:`token_cte` (caller writes ``WITH {token_cte()},``)."""
    return """
cnt AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
),
tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1
),
co AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(sum(abs(CAST(a.c AS DECIMAL(38,0)) * tb.n
                      - CAST(b.c AS DECIMAL(38,0)) * ta.n))
              AS DECIMAL(38,0))        AS co_num,
         CAST(sum(a.c) AS BIGINT)      AS co_a,
         CAST(sum(b.c) AS BIGINT)      AS co_b
  FROM cnt a
  JOIN cnt b ON a.token = b.token AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
  GROUP BY 1, 2
)
SELECT ta.source AS src_a, tb.source AS src_b,
       CAST(coalesce(co.co_num, 0)
            + CAST(ta.n - coalesce(co.co_a, 0) AS DECIMAL(38,0)) * tb.n
            + CAST(tb.n - coalesce(co.co_b, 0) AS DECIMAL(38,0)) * ta.n
            AS DECIMAL(38,0)) AS tvd_num,
       ta.n AS n_a,
       tb.n AS n_b
FROM tot ta
JOIN tot tb ON ta.source < tb.source
LEFT JOIN co ON co.src_a = ta.source AND co.src_b = tb.source
"""


def token_hapax(tok: DataFrame, width_s: int) -> DataFrame:
    """Hapax/dis-legomena rollup: per (source, time bucket), how many
    distinct tokens occurred exactly once (``n_hapax``) or exactly
    twice (``n_dis``), plus ``n_types``/``n_tokens`` — the lexical-
    richness monitor (a falling hapax share flags template spam or a
    looping scraper; Heaps'-law cousin of ``vocab_growth``).

    Same two-aggregate shape as every vocab rollup: the exploded
    stream collapses map-side at (source, bucket, token) — output
    bounded by the vocabulary — then one tier-sized re-aggregation.
    All counts BIGINT; shares are consumer-side divisions.
    """
    counts = (
        tok.select("source", bucket_col(width_s, "event_s"), "token")
        .groupBy("source", "bucket_s", "token")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy(
        "source", F.col("bucket_s").cast("long").alias("bucket_s")
    ).agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("n_dis"),
    )


def token_hapax_sql(width_s: int) -> str:
    """DuckDB twin of :func:`token_hapax` over the `tok` CTE."""
    return f"""
SELECT source, bucket_s,
       CAST(count(*) AS BIGINT)                                AS n_types,
       CAST(sum(c) AS BIGINT)                                  AS n_tokens,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)  AS n_hapax,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)  AS n_dis
FROM (
  SELECT source,
         {floor_sql('event_s', width_s)} AS bucket_s,
         token,
         count(*) AS c
  FROM tok
  GROUP BY 1, 2, 3
)
GROUP BY 1, 2
"""


def oov_rate(tok: DataFrame, width_s: int, top_v: int) -> DataFrame:
    """Out-of-vocabulary rate per (source, bucket): the share of token
    occurrences outside the corpus's top-``top_v`` vocabulary — the
    canonical "is this slice of the stream garbage?" monitor (encoding
    breakage, language drift, and spam floods all spike OOV against a
    frozen head vocabulary).

    The reference vocabulary is the top-``top_v`` tokens by corpus
    count (ties broken by token id ascending) — a deterministic
    ``ORDER BY … LIMIT`` that Spark plans as the distributed
    TakeOrderedAndProject (partial top-K per partition, merged on the
    driver), never a single-partition ranking window. The vocabulary
    then broadcast-LEFT-joins onto the stream; a miss is an OOV
    occurrence. Output (source, bucket_s, n_occ, n_oov) — exact
    integers, consumers divide.

    Scale shape: one vocabulary-bounded partial+final count agg, one
    top-K, one broadcast join, one partial+final bucket agg — no
    shuffle of the stream beyond the final group-by.
    """
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(top_v)
        .select("token", F.lit(1).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy(
            "source",
            floor_to(F.col("event_s"), width_s).alias("bucket_s"),
        )
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            F.col("bucket_s").cast("long").alias("bucket_s"),
            "n_occ",
            "n_oov",
        )
    )


def oov_rate_sql(width_s: int, top_v: int) -> str:
    """DuckDB twin of :func:`oov_rate` over the `tok` CTE."""
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)} AS bucket_s,
       count(*)                        AS n_occ,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                       AS n_oov
FROM tok t
LEFT JOIN (
  SELECT token FROM (SELECT token, count(*) AS cnt FROM tok GROUP BY 1)
  ORDER BY cnt DESC, token ASC LIMIT {top_v}
) v ON t.token = v.token
GROUP BY 1, 2
"""


def tok_skipgram(
    seq: DataFrame, window: int, min_count: int = 2
) -> DataFrame:
    """Skip-gram co-occurrence counts: ordered token pairs (t1 then t2)
    within ``window`` positions inside a document — the word2vec /
    GloVe co-occurrence matrix builder, generalizing the adjacent-only
    :func:`bigram_counts` to a ±w context.

    Pairs are generated ENTIRELY map-side — for each position i, the
    next ``window`` tokens via a slice-transform lambda (whole-stage
    codegen, no self-join, no shuffle of positions); the only shuffle
    is the final (source, t1, t2) count agg. ``min_count`` bounds the
    output (survivors ≤ total pairs / min_count).

    Output ``(source, t1, t2, c_xy)`` — exact integers.
    """
    pairs = F.explode(
        F.flatten(
            F.expr(
                "transform(tokens, (x, i) -> "
                f"transform(slice(tokens, i + 2, {window}), "
                "y -> struct(x AS t1, y AS t2)))"
            )
        )
    ).alias("p")
    return (
        seq.select("source", pairs)
        .select("source", F.col("p.t1").alias("t1"),
                F.col("p.t2").alias("t2"))
        .groupBy("source", "t1", "t2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )


def tok_skipgram_sql(window: int, min_count: int = 2) -> str:
    """DuckDB twin of :func:`tok_skipgram` over a `seqs(source,
    tokens)` CTE (zipped unnest positions + bounded-offset
    self-join — correctness twin; the Spark side is join-free)."""
    return f"""
pos AS (
  SELECT source, doc_id,
         unnest(tokens)                    AS tok,
         generate_subscripts(tokens, 1)    AS pos
  FROM seqs
)
SELECT a.source, a.tok AS t1, b.tok AS t2,
       count(*) AS c_xy
FROM pos a
JOIN pos b ON a.doc_id = b.doc_id
          AND b.pos > a.pos AND b.pos <= a.pos + {window}
          AND a.source = b.source
GROUP BY 1, 2, 3
HAVING count(*) >= {min_count}
"""


def tok_collocations(
    seq: DataFrame,
    window: int = 3,
    min_pair: int = 3,
    min_lift_ppm: int = 2_000_000,
) -> DataFrame:
    """Corpus-wide collocations: ordered token pairs whose co-occurrence
    LIFT exceeds a threshold — the exact-integer face of PMI (PMI > 0
    ⟺ lift > 1; ranking by lift ranks by PMI since log is monotone, so
    the engine never ships a logarithm).

    lift = P(x,y) / (P(x,·)·P(·,y)) = c_xy·N / (c_x··c_·y) over the
    skip-gram pair space (marginals and N computed from the UNFILTERED
    pair table — min_pair only gates the output, so thresholds don't
    bias the probabilities). Reported as the exact quantized integer
    ``lift_ppm = c_xy·10⁶·N div (c_x·c_y)``.

    Domain bound: c_xy·10⁶ must fit decimal(19,0) ⇒ pair counts to
    ~9·10¹²; the product with N stays within decimal(38,0) for N to
    ~10¹⁹. Scale shape: pairs are generated map-side (tok_skipgram),
    marginals are re-aggregations of the V²-bounded pair table, N is a
    1-row broadcast — no corpus re-scan, nothing quadratic.

    Output: (t1, t2, c_xy, c_x, c_y, lift_ppm), filtered to
    ``c_xy ≥ min_pair AND lift_ppm ≥ min_lift_ppm``.
    """
    pairs = (
        tok_skipgram(seq, window, min_count=1)
        .groupBy("t1", "t2")
        .agg(F.sum("c_xy").cast("long").alias("c_xy"))
    )
    left = pairs.groupBy("t1").agg(F.sum("c_xy").cast("long").alias("c_x"))
    right = pairs.groupBy("t2").agg(F.sum("c_xy").cast("long").alias("c_y"))
    n = pairs.agg(F.sum("c_xy").cast("long").alias("n_pairs"))
    return (
        pairs.join(left, "t1")
        .join(right, "t2")
        .crossJoin(F.broadcast(n))
        .filter(F.col("c_xy") >= min_pair)
        .select(
            "t1", "t2", "c_xy", "c_x", "c_y",
            F.expr(
                f"CAST(CAST(c_xy AS DECIMAL(19,0)) * 1000000 "
                f"* CAST(n_pairs AS DECIMAL(19,0)) "
                f"div (CAST(c_x AS DECIMAL(19,0)) "
                f"* CAST(c_y AS DECIMAL(19,0))) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .filter(F.col("lift_ppm") >= min_lift_ppm)
    )


def tok_collocations_sql(
    window: int,
    min_pair: int = 3,
    min_lift_ppm: int = 2_000_000,
) -> str:
    """DuckDB twin of :func:`tok_collocations` over a ``seqs(source,
    doc_id, tokens)`` CTE (continuation — append after WITH chain)."""
    return f"""
pos AS (
  SELECT source, doc_id,
         unnest(tokens)                    AS tok,
         generate_subscripts(tokens, 1)    AS pos
  FROM seqs
),
pr AS (
  SELECT a.tok AS t1, b.tok AS t2, CAST(count(*) AS BIGINT) AS c_xy
  FROM pos a
  JOIN pos b ON a.doc_id = b.doc_id
            AND b.pos > a.pos AND b.pos <= a.pos + {window}
            AND a.source = b.source
  GROUP BY 1, 2
),
lm AS (SELECT t1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM pr GROUP BY 1),
rm AS (SELECT t2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM pr GROUP BY 1),
nn AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_pairs FROM pr)
SELECT pr.t1, pr.t2, pr.c_xy, lm.c_x, rm.c_y,
       CAST(CAST(pr.c_xy AS HUGEINT) * 1000000 * nn.n_pairs
            // (CAST(lm.c_x AS HUGEINT) * rm.c_y) AS BIGINT) AS lift_ppm
FROM pr
JOIN lm ON lm.t1 = pr.t1
JOIN rm ON rm.t2 = pr.t2
CROSS JOIN nn
WHERE pr.c_xy >= {min_pair}
  AND CAST(pr.c_xy AS HUGEINT) * 1000000 * nn.n_pairs
      // (CAST(lm.c_x AS HUGEINT) * rm.c_y) >= {min_lift_ppm}
"""


#: fraction-ranking scale for token_movers' day-over-day lift key
_LIFT_SCALE = 1_000_000


def token_movers(
    tok: DataFrame,
    width_s: int = 86400,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Trending tokens: the top-``k`` tokens by day-over-day frequency
    lift — the "what changed in the stream today?" monitor (a spam
    campaign, a new boilerplate template, or an emergent topic shows
    up here before it moves any aggregate).

    Lift is ranked by the exact scaled-integer key
    ``c_cur·10⁶ div c_prev`` (descending, token id ascending
    tie-break); both days must carry ≥ ``min_count`` occurrences (the
    1→2 noise guard, and the reason a brand-new token is reported by
    :func:`vocab_growth`, not here). Output
    ``(bucket_s, token, c_prev, c_cur, lift_k, rank)``, rank ≤ k.

    Scale shape: the only corpus-sized work is the (bucket, token)
    partial+final count agg (output bounded by V × days); the
    day-over-day pairing is a self-EQUI-join on (token, bucket−w) of
    that bounded table and the rank window holds ≤ V rows per day.
    """
    counts = (
        tok.select(bucket_col(width_s, "event_s"), "token")
        .groupBy("bucket_s", "token")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
    )
    cur = counts.select("bucket_s", "token", F.col("c").alias("c_cur"))
    prev = counts.select(
        (F.col("bucket_s") + width_s).alias("bucket_s"),
        "token",
        F.col("c").alias("c_prev"),
    )
    joined = cur.join(prev, ["bucket_s", "token"]).withColumn(
        "lift_k", F.expr(f"(c_cur * {_LIFT_SCALE}) div c_prev")
    )
    w = Window.partitionBy("bucket_s").orderBy(
        F.col("lift_k").desc(), F.col("token").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("bucket_s").cast("long").alias("bucket_s"),
            F.col("token").cast("long").alias("token"),
            F.col("c_prev").cast("long").alias("c_prev"),
            F.col("c_cur").cast("long").alias("c_cur"),
            F.col("lift_k").cast("long").alias("lift_k"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def token_movers_sql(
    width_s: int = 86400, k: int = 5, min_count: int = 2
) -> str:
    """DuckDB twin of :func:`token_movers` over the `tok` CTE."""
    return f"""
SELECT bucket_s, token, c_prev, c_cur, lift_k, rank
FROM (
  WITH counts AS (
    SELECT {floor_sql('event_s', width_s)} AS bucket_s, token,
           count(*) AS c
    FROM tok GROUP BY 1, 2 HAVING count(*) >= {min_count}
  )
  SELECT c.bucket_s, c.token,
         p.c AS c_prev, c.c AS c_cur,
         (c.c * {_LIFT_SCALE}) // p.c AS lift_k,
         row_number() OVER (
           PARTITION BY c.bucket_s
           ORDER BY (c.c * {_LIFT_SCALE}) // p.c DESC, c.token ASC
         ) AS rank
  FROM counts c
  JOIN counts p
    ON c.bucket_s = p.bucket_s + {width_s} AND c.token = p.token
)
WHERE rank <= {k}
"""


def vocab_jaccard(tok: DataFrame) -> DataFrame:
    """Pairwise source-vocabulary Jaccard matrix: how much two corpus
    sources share their token vocabulary — the source-overlap panel a
    data-mixture designer reads before weighting sources (near-1
    pairs are candidate merge/dedup targets; near-0 pairs add
    diversity).

    Exact: |∩| by equi-join on token over the DISTINCT (source,
    token) set, |∪| = V_a + V_b − |∩| by inclusion–exclusion, and the
    ratio as ``inter·10⁹ div union`` (parts-per-billion integer — no
    float crosses engines). Pairs are emitted once (source_a <
    source_b); sources sharing no token still appear (left join,
    inter = 0) so the matrix is complete.

    Scale: the distinct set is bounded by |sources| × V (vocabulary-
    bounded, not corpus-bounded) — one hash agg over the exploded
    stream, then joins over that small relation. Nothing downstream
    of the first distinct scales with the corpus.
    """
    voc = tok.select("source", "token").distinct()
    sizes = voc.groupBy("source").agg(F.count("*").alias("v"))
    inter = (
        voc.alias("a")
        .join(
            voc.alias("b"),
            on=[
                F.col("a.token") == F.col("b.token"),
                F.col("a.source") < F.col("b.source"),
            ],
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    pairs = (
        sizes.alias("sa")
        .join(
            sizes.alias("sb"),
            on=[F.col("sa.source") < F.col("sb.source")],
        )
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            F.col("sa.v").alias("v_a"),
            F.col("sb.v").alias("v_b"),
        )
        .join(inter, on=["source_a", "source_b"], how="left")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
    )
    union = F.col("v_a") + F.col("v_b") - F.col("inter")
    return pairs.select(
        "source_a",
        "source_b",
        F.col("v_a").cast("long").alias("v_a"),
        F.col("v_b").cast("long").alias("v_b"),
        F.col("inter").cast("long").alias("inter"),
        F.expr("inter * 1000000000 div (v_a + v_b - inter)")
        .cast("long")
        .alias("jacc_ppb"),
    )


def vocab_jaccard_sql() -> str:
    """DuckDB twin of :func:`vocab_jaccard` — CONTINUATION CTEs
    (leading comma); append after an open ``WITH`` chain defining
    ``tok``."""
    return """
, voc AS (SELECT DISTINCT source, token FROM tok),
sizes AS (SELECT source, count(*) AS v FROM voc GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*) AS inter
  FROM voc a JOIN voc b
    ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa.source AS source_a, sb.source AS source_b,
       CAST(sa.v AS BIGINT) AS v_a,
       CAST(sb.v AS BIGINT) AS v_b,
       CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       CAST(coalesce(i.inter, 0) * 1000000000
            // (sa.v + sb.v - coalesce(i.inter, 0)) AS BIGINT)
         AS jacc_ppb
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN inter i
  ON i.source_a = sa.source AND i.source_b = sb.source
"""


def vocab_remap(seq: DataFrame) -> DataFrame:
    """Vocabulary migration: re-id every token FREQUENCY-DENSELY (the
    corpus's most frequent token becomes 0, next 1, …) and rewrite all
    token arrays order-preservingly — the remap a tokenizer swap /
    vocab prune / embedding-table compaction applies to a stored
    pre-tokenized corpus. Frequency-dense ids are the standard target:
    they make the embedding table's hot rows contiguous and let a
    vocab truncation become a plain ``id < V'`` filter.

    Output (doc_id, n_tok, new_tokens) — ``new_tokens`` is the
    remapped array, same length and order as the input.

    Scale shape: the mapping is VOCABULARY-bounded (≤ V rows — the
    ranking window sorts V rows, the ``token_zipf`` acceptance) and
    broadcasts; the rewrite is the honest full-retokenization cost —
    one token-stream explode, a broadcast equi-join, and ONE
    doc-keyed exchange to regroup (the same exchange class as the
    transpose pipeline's series regroup). Nothing is quadratic and
    nothing shuffles the mapping.
    """
    ex = seq.select(
        "doc_id", F.posexplode("tokens").alias("pos", "token")
    )
    counts = ex.groupBy("token").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    mapping = counts.select(
        "token",
        (F.row_number().over(w) - 1).cast("int").alias("new_id"),
    )
    remapped = (
        ex.join(F.broadcast(mapping), "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "new_id"))
            ).alias("ps")
        )
        .select(
            "doc_id",
            F.size("ps").cast("long").alias("n_tok"),
            F.expr("transform(ps, x -> x.new_id)").alias("new_tokens"),
        )
    )
    # explode emits nothing for a zero-token doc — restore it so the
    # "rewrite ALL token arrays" contract holds (doc_id, 0, [])
    return (
        seq.select("doc_id")
        .join(remapped, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tok"), F.lit(0).cast("long")).alias("n_tok"),
            F.coalesce(
                F.col("new_tokens"),
                F.expr("CAST(array() AS array<int>)"),
            ).alias("new_tokens"),
        )
    )


def vocab_remap_sql() -> str:
    """DuckDB twin of :func:`vocab_remap` over the `seqs(doc_id,
    source, tokens)` CTE (conventional unnest + join + ordered
    re-list)."""
    return """
ex AS (
  SELECT doc_id, unnest(tokens) AS token,
         generate_subscripts(tokens, 1) AS pos
  FROM seqs
),
counts AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1),
mapping AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) - 1
              AS INTEGER) AS new_id
  FROM counts
),
remapped AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         list(new_id ORDER BY pos) AS new_tokens
  FROM ex JOIN mapping USING (token)
  GROUP BY doc_id
)
SELECT s.doc_id,
       coalesce(r.n_tok, 0) AS n_tok,
       coalesce(r.new_tokens, CAST([] AS INTEGER[])) AS new_tokens
FROM seqs s LEFT JOIN remapped r USING (doc_id)
"""
