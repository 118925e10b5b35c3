"""Text-analysis operators over the ``documents`` table.

Large-scale training-data pipeline surface: token counting, quality
scoring, language-ID, content fingerprinting. All pure built-in column
expressions (JVM-side, whole-stage codegen — no Python in the hot
path), and every oracle-compared output is **exact integer math** so
the DuckDB value-hash comparison can never drift on float rounding.

Scale notes: each operator is a narrow projection — no shuffle at all
until the caller aggregates; at 100 TB these run as a single map stage
fused into the parquet scan (verify: one WholeStageCodegen span, scan
ReadSchema pruned to (doc_id, text[, lang])).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyreshaper_spark.functions.xhash import WORDS_SQL, h32, h32_sql, words_col

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
#: Same regex semantics in Spark (Java regex) and DuckDB (RE2).
BPEISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

#: Tiny per-language stopword marker lists (function words a language-ID
#: n-gram heuristic keys on). Deterministic, exact-count scoring.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en": ("the", "and", "of", "to", "is", "in", "that", "with"),
    "es": ("el", "la", "de", "que", "y", "los", "una", "con"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1"),
}

FP_MOD = 1_000_000_007
FP_BASE = 131


def _marker_count(words: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def text_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace words, BPE-ish tokens, distinct words,
    character totals — all integers."""
    words = words_col()
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.size(F.regexp_extract_all("text", F.lit(BPEISH_RE), 0)).alias(
            "n_bpeish_tokens"
        ),
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).alias("total_word_chars"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality heuristics as exact integer counts + an integer-ratio flag.

    ``ok`` mirrors Gopher-style filters (length bounds, repetition) but
    with integer comparisons only: kept if 10 <= n_words <= 100000 and
    distinct/total > 1/4 (repetition) and mean word length in [2, 12]
    (expressed as 2*n_words <= total_chars <= 12*n_words).
    """
    words = words_col()
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        total_chars.alias("total_word_chars"),
        (
            (n_words >= 10)
            & (n_words <= 100000)
            & (n_distinct * 4 > n_words)
            & (total_chars >= n_words * 2)
            & (total_chars <= n_words * 12)
        )
        .cast("int")
        .alias("ok"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits,
    ties broken by language code (deterministic). Emits the hit counts
    and the ground-truth ``lang`` for accuracy checks."""
    words = words_col()
    counts = [
        _marker_count(words, LANG_MARKERS[lg]).alias(f"hits_{lg}")
        for lg in sorted(LANG_MARKERS)
    ]
    d = docs.select("doc_id", F.col("lang").alias("lang_actual"), *counts)
    # argmax with (count desc, code asc) tie-break via a struct max
    best = F.greatest(
        *[
            F.struct(
                F.col(f"hits_{lg}").alias("c"),
                F.lit(-ord(lg[0]) * 256 - ord(lg[1])).alias("t"),
                F.lit(lg).alias("lang"),
            )
            for lg in sorted(LANG_MARKERS)
        ]
    )
    return d.select(
        "doc_id",
        "lang_actual",
        *[f"hits_{lg}" for lg in sorted(LANG_MARKERS)],
        best["lang"].alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprints from 32-bit word hashes:

    * ``fp_roll`` — positional rolling hash, fold of
      ``fp = (fp*131 + h) % 1e9+7`` over the word sequence (order-
      sensitive: detects reorderings);
    * ``fp_set``  — order-insensitive set fingerprint
      ``(sum(h) % mod, min(h), max(h))`` over distinct words.
    """
    words = words_col()
    hs = F.transform(words, lambda w: h32(w))
    dhs = F.transform(F.array_distinct(words), lambda w: h32(w))
    return docs.select(
        "doc_id",
        F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: F.pmod(acc * F.lit(FP_BASE) + h, F.lit(FP_MOD)),
        ).alias("fp_roll"),
        F.pmod(
            F.aggregate(dhs, F.lit(0).cast("long"), lambda a, h: a + h),
            F.lit(FP_MOD),
        ).alias("fp_set_sum"),
        F.array_min(dhs).alias("fp_set_min"),
        F.array_max(dhs).alias("fp_set_max"),
    )


# --------------------------------------------------------------------------
# DuckDB oracle SQL (exact renderings of the above)
# --------------------------------------------------------------------------

def text_stats_sql() -> str:
    return f"""
SELECT doc_id,
       length(text)                          AS n_chars,
       len({WORDS_SQL})                      AS n_words,
       len(list_distinct({WORDS_SQL}))       AS n_distinct_words,
       len(regexp_extract_all(text, '{BPEISH_RE}')) AS n_bpeish_tokens,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform({WORDS_SQL}, w -> CAST(length(w) AS BIGINT))),
                   (a, b) -> a + b)           AS total_word_chars
FROM documents
"""


def quality_score_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         len({WORDS_SQL})                    AS n_words,
         len(list_distinct({WORDS_SQL}))     AS n_distinct_words,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform({WORDS_SQL}, w -> CAST(length(w) AS BIGINT))),
                     (a, b) -> a + b)         AS total_word_chars
  FROM documents)
SELECT doc_id, n_words, n_distinct_words, total_word_chars,
       CAST(n_words >= 10 AND n_words <= 100000
            AND n_distinct_words * 4 > n_words
            AND total_word_chars >= n_words * 2
            AND total_word_chars <= n_words * 12 AS INT) AS ok
FROM t
"""


def lang_id_sql() -> str:
    hit_cols = []
    for lg in sorted(LANG_MARKERS):
        lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
        hit_cols.append(
            f"len(list_filter({WORDS_SQL}, w -> w IN ({lst}))) AS hits_{lg}"
        )
    # same (count desc, code asc) argmax: greatest over counts + a CASE
    # chain in code order (first equal-to-max wins the tie)
    langs = sorted(LANG_MARKERS)
    gmax = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN hits_{lg} = m THEN '{lg}'" for lg in langs
    ) + " END"
    hits = ",\n       ".join(hit_cols)
    sel = ", ".join(f"hits_{lg}" for lg in langs)
    return f"""
WITH t AS (
  SELECT doc_id, lang AS lang_actual,
       {hits}
  FROM documents),
m AS (SELECT *, {gmax} AS m FROM t)
SELECT doc_id, lang_actual, {sel},
       {case} AS lang_pred
FROM m
"""


def fingerprint_sql() -> str:
    h = h32_sql("w")
    return f"""
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform({WORDS_SQL}, w -> {h})),
                   (a, b) -> (a * {FP_BASE} + b) % {FP_MOD}) AS fp_roll,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_distinct({WORDS_SQL}), w -> {h})),
                   (a, b) -> a + b) % {FP_MOD}               AS fp_set_sum,
       list_min(list_transform(list_distinct({WORDS_SQL}), w -> {h})) AS fp_set_min,
       list_max(list_transform(list_distinct({WORDS_SQL}), w -> {h})) AS fp_set_max
FROM documents
"""


# --------------------------------------------------------------------------
# PII-pattern scan — safety-filter face of the text surface
# --------------------------------------------------------------------------

#: Conservative PII-ish patterns with identical semantics in Java regex
#: (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_DIGITRUN_RE = "[0-9]{7,}"
PII_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-doc counts of email-like, long-digit-run, and IPv4-like
    substrings plus a ``has_pii`` flag — the redaction-candidate
    filter every training corpus runs. Pure codegen projection (three
    regexp_extract_all's fused into the scan stage); counts are exact
    non-overlapping match counts, identical across engines."""
    def _n(pat: str) -> Column:
        return F.size(F.regexp_extract_all("text", F.lit(pat), 0))

    return docs.select(
        "doc_id",
        _n(PII_EMAIL_RE).alias("n_emails"),
        _n(PII_DIGITRUN_RE).alias("n_digit_runs"),
        _n(PII_IPV4_RE).alias("n_ipv4"),
        (
            (_n(PII_EMAIL_RE) > 0)
            | (_n(PII_DIGITRUN_RE) > 0)
            | (_n(PII_IPV4_RE) > 0)
        ).alias("has_pii"),
    )


def pii_scan_sql() -> str:
    def _n(pat: str) -> str:
        return f"len(regexp_extract_all(text, '{pat}'))"

    # DuckDB single-quoted strings are escape-free, so the same pattern
    # text (with its literal backslashes) embeds verbatim
    e, d, i = _n(PII_EMAIL_RE), _n(PII_DIGITRUN_RE), _n(PII_IPV4_RE)
    return f"""
SELECT doc_id,
       {e} AS n_emails,
       {d} AS n_digit_runs,
       {i} AS n_ipv4,
       ({e} > 0 OR {d} > 0 OR {i} > 0) AS has_pii
FROM documents
"""


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID confusion matrix: per (ground-truth ``lang``,
    predicted lang) doc counts — the eval face of :func:`lang_id`
    (per-language precision/recall are consumer-side row sums).
    One partial+final hash agg over the classifier projection."""
    return (
        lang_id(docs)
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def lang_confusion_sql() -> str:
    """DuckDB twin of :func:`lang_confusion`."""
    return f"""
SELECT lang_actual, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM ({lang_id_sql()})
GROUP BY 1, 2
"""


def fertility_by_source(docs: DataFrame) -> DataFrame:
    """Tokenizer-fertility panel per source: characters per token as
    the exact integer ratio Σchars·10⁶ div Σtokens — the
    bytes-per-token efficiency metric a tokenizer/corpus review reads
    per language/source (low chars-per-token = token-hungry content =
    more compute per byte of text).

    Token count here is the whitespace word count (the fixture's
    tokenizer); swap ``n_tok`` from the sequences table for a real
    BPE count — the shape is the same one hash aggregate, output
    O(|sources|).
    """
    from pyreshaper_spark.functions.xhash import words_col

    return (
        docs.select(
            "source",
            F.length("text").cast("long").alias("n_chars"),
            F.size(words_col()).cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_tok").cast("long").alias("sum_tok"),
        )
        .select(
            "source",
            "n_docs",
            "sum_chars",
            "sum_tok",
            F.expr("sum_chars * 1000000 div sum_tok")
            .cast("long")
            .alias("chars_per_tok_ppm"),
        )
    )


def fertility_by_source_sql() -> str:
    """DuckDB twin of :func:`fertility_by_source`."""
    from pyreshaper_spark.functions.xhash import WORDS_SQL

    return f"""
SELECT source,
       CAST(count(*) AS BIGINT)       AS n_docs,
       CAST(sum(n_chars) AS BIGINT)   AS sum_chars,
       CAST(sum(n_tok) AS BIGINT)     AS sum_tok,
       CAST(sum(n_chars) * 1000000 // sum(n_tok) AS BIGINT)
         AS chars_per_tok_ppm
FROM (
  SELECT source,
         CAST(length(text) AS BIGINT)    AS n_chars,
         CAST(len({WORDS_SQL}) AS BIGINT) AS n_tok
  FROM documents)
GROUP BY 1
"""


def pii_rate(docs_days: DataFrame) -> DataFrame:
    """PII-leak trend: per (source, event day), how many documents
    carry PII-like substrings and the total match counts — the
    time-resolved face of :func:`pii_scan` (a redaction-pipeline
    regression shows up here as a step in ``pii_ppm`` long before a
    manual audit finds it).

    ``docs_days`` carries (source, day_s, text). Pure codegen
    projection fused into the scan (the pii_scan regexes) followed by
    one partial+final hash aggregate keyed (source, day) —
    O(|sources| × days) output, no join, no window.
    """
    def _n(pat: str) -> Column:
        return F.size(F.regexp_extract_all("text", F.lit(pat), 0))

    has = (
        (_n(PII_EMAIL_RE) > 0)
        | (_n(PII_DIGITRUN_RE) > 0)
        | (_n(PII_IPV4_RE) > 0)
    )
    return (
        docs_days.select(
            "source",
            "day_s",
            has.cast("long").alias("pii_doc"),
            _n(PII_EMAIL_RE).cast("long").alias("ne"),
            _n(PII_DIGITRUN_RE).cast("long").alias("nd"),
            _n(PII_IPV4_RE).cast("long").alias("ni"),
        )
        .groupBy("source", "day_s")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("pii_doc").cast("long").alias("n_pii_docs"),
            F.sum("ne").cast("long").alias("n_emails"),
            F.sum("nd").cast("long").alias("n_digit_runs"),
            F.sum("ni").cast("long").alias("n_ipv4"),
        )
        .select(
            "source",
            F.col("day_s").cast("long").alias("day_s"),
            "n_docs",
            "n_pii_docs",
            "n_emails",
            "n_digit_runs",
            "n_ipv4",
            F.expr("n_pii_docs * 1000000 div n_docs")
            .cast("long")
            .alias("pii_ppm"),
        )
    )


def pii_rate_sql(day_expr: str) -> str:
    """DuckDB twin of :func:`pii_rate`; ``day_expr`` derives the
    floored event day from a `documents` row."""
    def _n(pat: str) -> str:
        return f"len(regexp_extract_all(text, '{pat}'))"

    e, d, i = _n(PII_EMAIL_RE), _n(PII_DIGITRUN_RE), _n(PII_IPV4_RE)
    return f"""
SELECT source,
       CAST(day_s AS BIGINT)        AS day_s,
       CAST(count(*) AS BIGINT)     AS n_docs,
       CAST(sum(pii_doc) AS BIGINT) AS n_pii_docs,
       CAST(sum(ne) AS BIGINT)      AS n_emails,
       CAST(sum(nd) AS BIGINT)      AS n_digit_runs,
       CAST(sum(ni) AS BIGINT)      AS n_ipv4,
       CAST(sum(pii_doc) * 1000000 // count(*) AS BIGINT) AS pii_ppm
FROM (
  SELECT source,
         {day_expr} AS day_s,
         CAST(({e} > 0 OR {d} > 0 OR {i} > 0) AS BIGINT) AS pii_doc,
         {e} AS ne, {d} AS nd, {i} AS ni
  FROM documents)
GROUP BY 1, 2
"""


def datacard_by_source(docs: DataFrame) -> DataFrame:
    """One-scan per-source corpus DATA CARD — the summary table a
    dataset release ships (docs, token mass, median length, duplicate
    share, quality-pass share, PII share, majority language), computed
    as a single projection → one source-keyed sort → one aggregate.

    Every figure is exact integer math on the same expressions the
    standalone operators use (quality gate ≡ :func:`quality_score`,
    PII flag ≡ :func:`pii_scan`, language vote ≡ :func:`lang_id`,
    duplicate identity ≡ the md5 of the full text); the
    median is the exact lower-median order statistic (rank
    ``(n+1) div 2`` on the (n_words, doc_id) total order).

    Scale: one parquet scan (codegen projection), ONE exchange on
    source shared by the two rank/count windows, one partial+final
    hash aggregate. The exact in-group median ranks within each
    source — the documented two-pass quantile-boundary path replaces
    it beyond ~10⁸ docs per source (see ``sampling.doc_len_deciles``).
    """
    from pyspark.sql import Window

    words = words_col()
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    ok = (
        (n_words >= 10)
        & (n_words <= 100000)
        & (n_distinct * 4 > n_words)
        & (total_chars >= n_words * 2)
        & (total_chars <= n_words * 12)
    )

    def _n(pat: str) -> Column:
        return F.size(F.regexp_extract_all("text", F.lit(pat), 0))

    pii = (
        (_n(PII_EMAIL_RE) > 0)
        | (_n(PII_DIGITRUN_RE) > 0)
        | (_n(PII_IPV4_RE) > 0)
    )
    lang_pred = F.greatest(
        *[
            F.struct(
                _marker_count(words, LANG_MARKERS[lg]).alias("c"),
                F.lit(-ord(lg[0]) * 256 - ord(lg[1])).alias("t"),
                F.lit(lg).alias("lang"),
            )
            for lg in sorted(LANG_MARKERS)
        ]
    )["lang"]
    base = docs.select(
        "source",
        F.col("doc_id").cast("string").alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        ok.cast("long").alias("ok"),
        pii.cast("long").alias("pii"),
        F.md5(F.col("text").cast("binary")).alias("h"),
        lang_pred.alias("lang_pred"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_words").asc(), F.col("doc_id").asc()
    )
    ranked = base.select(
        "*",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    lang_votes = [
        F.sum((F.col("lang_pred") == lg).cast("long")).alias(f"v_{lg}")
        for lg in sorted(LANG_MARKERS)
    ]
    agg = ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.max(
            F.when(F.col("rk") * 2 == F.col("n") + F.col("n") % 2,
                   F.col("n_words"))
        ).cast("long").alias("p50_words"),
        F.sum("ok").cast("long").alias("ok_docs"),
        F.sum("pii").cast("long").alias("pii_docs"),
        F.count_distinct("h").cast("long").alias("n_distinct_hash"),
        *lang_votes,
    )
    top_lang = F.greatest(
        *[
            F.struct(
                F.col(f"v_{lg}").alias("c"),
                F.lit(-ord(lg[0]) * 256 - ord(lg[1])).alias("t"),
                F.lit(lg).alias("lang"),
            )
            for lg in sorted(LANG_MARKERS)
        ]
    )["lang"]
    return agg.select(
        "source",
        "n_docs",
        "sum_words",
        "p50_words",
        F.expr("(n_docs - n_distinct_hash) * 1000000 div n_docs")
        .cast("long")
        .alias("dup_ppm"),
        F.expr("ok_docs * 1000000 div n_docs").cast("long").alias("ok_ppm"),
        F.expr("pii_docs * 1000000 div n_docs")
        .cast("long")
        .alias("pii_ppm"),
        top_lang.alias("top_lang"),
    )


def datacard_by_source_sql() -> str:
    """DuckDB twin of :func:`datacard_by_source`."""
    def _n(pat: str) -> str:
        return f"len(regexp_extract_all(text, '{pat}'))"

    e, d, i = _n(PII_EMAIL_RE), _n(PII_DIGITRUN_RE), _n(PII_IPV4_RE)
    marker_cols = []
    for lg in sorted(LANG_MARKERS):
        inlist = ", ".join(f"'{m}'" for m in LANG_MARKERS[lg])
        marker_cols.append(
            f"len(list_filter({WORDS_SQL}, w -> w IN ({inlist})))"
            f" AS hits_{lg}"
        )
    # argmax over (hits desc, code asc) — same struct-max semantics
    langs = sorted(LANG_MARKERS)
    pred = "CASE "
    for lg in langs:
        # greatest-struct picks max (c, t) where t = -(code), so on a
        # count tie the SMALLEST language code wins; replicate: lg
        # beats o if hits_lg > hits_o, or equal and lg < o
        conds = [
            f"(hits_{lg} > hits_{o} OR (hits_{lg} = hits_{o} AND "
            f"{'TRUE' if lg < o else 'FALSE'}))"
            for o in langs
            if o != lg
        ]
        pred += f"WHEN {' AND '.join(conds)} THEN '{lg}' "
    pred += "END"
    vote_cols = ", ".join(
        f"CAST(sum(CASE WHEN lang_pred = '{lg}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS v_{lg}"
        for lg in langs
    )
    top = "CASE "
    for lg in langs:
        conds = [
            f"(v_{lg} > v_{o} OR (v_{lg} = v_{o} AND "
            f"{'TRUE' if lg < o else 'FALSE'}))"
            for o in langs
            if o != lg
        ]
        top += f"WHEN {' AND '.join(conds)} THEN '{lg}' "
    top += "END"
    return f"""
SELECT source, n_docs, sum_words, p50_words,
       CAST((n_docs - n_distinct_hash) * 1000000 // n_docs AS BIGINT)
         AS dup_ppm,
       CAST(ok_docs * 1000000 // n_docs AS BIGINT)  AS ok_ppm,
       CAST(pii_docs * 1000000 // n_docs AS BIGINT) AS pii_ppm,
       {top} AS top_lang
FROM (
  SELECT source,
         CAST(count(*) AS BIGINT)   AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS sum_words,
         CAST(max(CASE WHEN rk * 2 = n + n % 2 THEN n_words END)
              AS BIGINT)            AS p50_words,
         CAST(sum(ok) AS BIGINT)    AS ok_docs,
         CAST(sum(pii) AS BIGINT)   AS pii_docs,
         CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_hash,
         {vote_cols}
  FROM (
    SELECT *,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_words ASC, doc_id ASC) AS rk,
           count(*) OVER (PARTITION BY source) AS n
    FROM (
      SELECT source,
             CAST(doc_id AS VARCHAR) AS doc_id,
             CAST(len({WORDS_SQL}) AS BIGINT) AS n_words,
             CAST(len({WORDS_SQL}) >= 10 AND len({WORDS_SQL}) <= 100000
                  AND len(list_distinct({WORDS_SQL})) * 4 > len({WORDS_SQL})
                  AND list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform({WORDS_SQL},
                          w -> CAST(length(w) AS BIGINT))), (a, b) -> a + b)
                      >= len({WORDS_SQL}) * 2
                  AND list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform({WORDS_SQL},
                          w -> CAST(length(w) AS BIGINT))), (a, b) -> a + b)
                      <= len({WORDS_SQL}) * 12 AS BIGINT) AS ok,
             CAST(({e} > 0 OR {d} > 0 OR {i} > 0) AS BIGINT) AS pii,
             md5(text) AS h,
             {pred} AS lang_pred
      FROM (SELECT source, doc_id, text, {', '.join(marker_cols)}
            FROM documents)
    )
  )
  GROUP BY 1
)
"""


#: redaction placeholders — letters-only so one pass can never create
#: a match for a later pattern
PII_PLACEHOLDERS = {"email": "<EMAIL>", "ipv4": "<IP>", "digit": "<NUM>"}


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SPAN-LEVEL PII redaction — the action :func:`pii_scan` only
    flags: every email-like, IPv4-like, and 7+-digit-run substring is
    replaced by a typed placeholder, longest-pattern first (emails
    before IPs before bare digit runs, so a pattern consumed by an
    earlier pass is never double-counted). ``n_redacted`` counts the
    replacements actually performed, measured sequentially on the
    intermediate strings.

    Output (doc_id, red_text, n_redacted). Pure codegen projection —
    three fused regexp passes in the scan stage, zero shuffle, the
    ``pii_scan`` cost shape.
    """
    t0 = F.col(text_col)
    n_e = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL_RE), 0))
    t1 = F.regexp_replace(
        t0, PII_EMAIL_RE, PII_PLACEHOLDERS["email"]
    )
    n_i = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4_RE), 0))
    t2 = F.regexp_replace(t1, PII_IPV4_RE, PII_PLACEHOLDERS["ipv4"])
    n_d = F.size(F.regexp_extract_all(t2, F.lit(PII_DIGITRUN_RE), 0))
    t3 = F.regexp_replace(t2, PII_DIGITRUN_RE, PII_PLACEHOLDERS["digit"])
    return docs.select(
        "doc_id",
        t3.alias("red_text"),
        (n_e + n_i + n_d).cast("long").alias("n_redacted"),
    )


def pii_redact_sql(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`pii_redact` over ``documents`` (or any
    relation exposing ``doc_id`` and ``{text_expr}``). Emits a final
    SELECT; DuckDB needs the explicit 'g' flag for global replace."""
    e, i, d = PII_EMAIL_RE, PII_IPV4_RE, PII_DIGITRUN_RE
    pe = PII_PLACEHOLDERS["email"]
    pi = PII_PLACEHOLDERS["ipv4"]
    pd = PII_PLACEHOLDERS["digit"]
    return f"""
SELECT doc_id,
       regexp_replace(t2, '{d}', '{pd}', 'g') AS red_text,
       CAST(n_e + n_i
            + len(regexp_extract_all(t2, '{d}')) AS BIGINT) AS n_redacted
FROM (
  SELECT doc_id, n_e,
         len(regexp_extract_all(t1, '{i}')) AS n_i,
         regexp_replace(t1, '{i}', '{pi}', 'g') AS t2
  FROM (
    SELECT doc_id,
           len(regexp_extract_all({text_expr}, '{e}')) AS n_e,
           regexp_replace({text_expr}, '{e}', '{pe}', 'g') AS t1
    FROM documents
  )
)
"""
