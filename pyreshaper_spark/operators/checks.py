"""Declarative data-quality constraint suite compiled to ONE scan.

The Deequ pattern (AWS's open-source Spark DQ library): a user declares
a suite of constraints — not-null, uniqueness, bounds, set membership,
regex shape, arbitrary row predicates — and the engine compiles the
WHOLE suite into a single aggregation pass so the 100 TB table is read
once, not once per rule. The reference's validation phase
[U: reshaper.py :: input-inspection] hard-fails on its three fixed
contracts; this is the generalization a corpus-release gate needs: an
arbitrary rule set, a per-rule violation count, and a pass verdict
against a per-rule tolerance, emitted as a table a release pipeline can
join, store, and alert on (operators/validate.py keeps the raising,
fixed-contract face).

Scale shape: every ``cond`` rule is one ``sum(CASE …)`` inside the same
partial+final aggregate — rule count adds columns, never passes.
``unique`` rules add a ``count(distinct col)``; Spark rewrites a single
distinct to a two-level keyed aggregate (still one scan), and multiple
distinct COLUMNS add an Expand (rows × distinct-column count) — so keep
distinct rules few, which matches practice: uniqueness is checked on
the identity column, not on twenty. The per-rule explode at the end
runs on the single 1-row aggregate output.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Rule:
    """One declarative constraint.

    ``cond``/``sql_cond`` are the VIOLATION predicate (row breaks the
    rule) in Spark/DuckDB form — ``cond`` may be a zero-arg builder so
    a suite (and its oracle SQL) can be DECLARED without an active
    SparkContext (pyspark Columns need a live JVM to construct); ``distinct_col`` marks a uniqueness
    rule instead (violations = non-null rows − distinct values).
    ``tol`` is the allowed violation count (a rule passes when
    violations ≤ tol — Deequ's "hasCompleteness ≥ x" face, stated in
    absolute exact-integer form).
    """

    def __init__(
        self,
        name: str,
        cond: Column | Callable[[], Column] | None = None,
        sql_cond: str | None = None,
        distinct_col: str | None = None,
        tol: int = 0,
    ) -> None:
        if (cond is None) != (sql_cond is None):
            raise ValueError("cond and sql_cond must be given together")
        if (cond is None) == (distinct_col is None):
            raise ValueError("exactly one of cond / distinct_col required")
        self.name = name
        self.cond = cond
        self.sql_cond = sql_cond
        self.distinct_col = distinct_col
        self.tol = int(tol)


def not_null(col: str, tol: int = 0) -> Rule:
    return Rule(
        f"{col}_not_null",
        cond=lambda: F.col(col).isNull(),
        sql_cond=f"{col} IS NULL",
        tol=tol,
    )


def unique(col: str, tol: int = 0) -> Rule:
    return Rule(f"{col}_unique", distinct_col=col, tol=tol)


def bounds(
    col: str, lo: int | None = None, hi: int | None = None, tol: int = 0
) -> Rule:
    """Non-null value outside [lo, hi] (either bound optional)."""
    if lo is None and hi is None:
        raise ValueError("at least one bound required")
    parts = []
    if lo is not None:
        parts.append(f"{col} < {lo}")
    if hi is not None:
        parts.append(f"{col} > {hi}")

    def cond() -> Column:
        c = F.lit(False)
        if lo is not None:
            c = c | (F.col(col) < F.lit(lo))
        if hi is not None:
            c = c | (F.col(col) > F.lit(hi))
        return F.col(col).isNotNull() & c

    return Rule(
        f"{col}_bounds",
        cond=cond,
        sql_cond=f"{col} IS NOT NULL AND ({' OR '.join(parts)})",
        tol=tol,
    )


def in_set(col: str, values: list[str], tol: int = 0) -> Rule:
    """Non-null value outside the accepted set."""
    quoted = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return Rule(
        f"{col}_in_set",
        cond=lambda: F.col(col).isNotNull() & ~F.col(col).isin(list(values)),
        sql_cond=f"{col} IS NOT NULL AND {col} NOT IN ({quoted})",
        tol=tol,
    )


def matches(col: str, pattern: str, tol: int = 0) -> Rule:
    """Non-null value NOT matching the regex. Keep patterns in the
    portable subset (anchors, classes, quantifiers) — Spark evaluates
    Java regex, the oracle RE2; both use find-anywhere semantics."""
    quoted = pattern.replace("'", "''")
    return Rule(
        f"{col}_matches",
        cond=lambda: F.col(col).isNotNull() & ~F.col(col).rlike(pattern),
        sql_cond=(
            f"{col} IS NOT NULL AND NOT regexp_matches({col}, "
            f"'{quoted}')"
        ),
        tol=tol,
    )


def length_min(col: str, n: int, tol: int = 0) -> Rule:
    return Rule(
        f"{col}_length_min{n}",
        cond=lambda: F.col(col).isNotNull() & (F.length(col) < F.lit(n)),
        sql_cond=f"{col} IS NOT NULL AND len({col}) < {n}",
        tol=tol,
    )


def expr_rule(
    name: str,
    cond: Column | Callable[[], Column],
    sql_cond: str,
    tol: int = 0,
) -> Rule:
    """Escape hatch: any row-level violation predicate pair (Column or
    zero-arg Column builder)."""
    return Rule(name, cond=cond, sql_cond=sql_cond, tol=tol)


def _validate_rules(rules: list[Rule]) -> None:
    if not rules:
        raise ValueError("empty rule suite")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        dups = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate rule names: {dups}")


def suite_aggs(rules: list[Rule]) -> list[Column]:
    """The suite compiled to aggregate columns (_n, _v0.._vk) — shared
    by the whole-table and the per-key scan."""
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, r in enumerate(rules):
        if r.distinct_col is not None:
            v = F.count(F.col(r.distinct_col)) - F.count_distinct(
                F.col(r.distinct_col)
            )
        else:
            c = r.cond() if callable(r.cond) else r.cond
            v = F.coalesce(F.sum(c.cast("long")), F.lit(0))
        aggs.append(v.cast("long").alias(f"_v{i}"))
    return aggs


def suite_rows(
    row_df: DataFrame, rules: list[Rule], keys: tuple[str, ...] = ()
) -> DataFrame:
    """Explode the wide aggregate (one row per key group, or one row
    total) into per-rule verdict rows, carrying the group keys."""
    structs = [
        F.struct(
            F.lit(r.name).alias("rule"),
            F.col(f"_v{i}").alias("violations"),
            F.col("_n").alias("n_rows"),
            (F.col(f"_v{i}") <= F.lit(r.tol)).alias("passed"),
        )
        for i, r in enumerate(rules)
    ]
    return row_df.select(
        *keys, F.explode(F.array(*structs)).alias("r")
    ).select(*keys, "r.*")


def check_suite(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Run the suite in one scan. Output one row per rule:
    (rule, violations, n_rows, passed) — exact integers, engine-stable
    (``coalesce`` keeps an EMPTY input total: every count is 0 and
    every rule passes, rather than nulling out)."""
    _validate_rules(rules)
    return suite_rows(df.agg(*suite_aggs(rules)), rules)


def check_suite_by(
    df: DataFrame, rules: list[Rule], keys: tuple[str, ...] = ("source",)
) -> DataFrame:
    """The keyed form — one verdict row per (group, rule): the
    "WHICH feed broke the contract" report a multi-tenant ingest wants
    (the global form says only that something broke). Same single
    scan: the suite's aggregate columns ride one partial+final hash
    agg keyed by ``keys``; ``unique`` rules count distinctness WITHIN
    each group (per-feed identity), which is the per-feed contract —
    global uniqueness still needs :func:`check_suite`."""
    _validate_rules(rules)
    return suite_rows(
        df.groupBy(*keys).agg(*suite_aggs(rules)), rules, keys
    )


def check_suite_by_sql(
    relation: str,
    rules: list[Rule],
    keys: tuple[str, ...] = ("source",),
) -> str:
    """DuckDB twin of :func:`check_suite_by` over ``relation``."""
    klist = ", ".join(keys)
    cols = [f"CAST(count(*) AS BIGINT) AS n"]
    for i, r in enumerate(rules):
        if r.distinct_col is not None:
            c = r.distinct_col
            cols.append(
                f"CAST(count({c}) - count(DISTINCT {c}) AS BIGINT) AS v{i}"
            )
        else:
            cols.append(
                f"CAST(coalesce(sum(CASE WHEN {r.sql_cond} THEN 1 ELSE 0 "
                f"END), 0) AS BIGINT) AS v{i}"
            )
    legs = [
        f"SELECT {klist}, '{r.name}' AS rule, v{i} AS violations, "
        f"n AS n_rows, v{i} <= {r.tol} AS passed FROM m"
        for i, r in enumerate(rules)
    ]
    return (
        f"m AS (SELECT {klist}, {', '.join(cols)} FROM {relation} "
        f"GROUP BY {klist})\n"
        + "\nUNION ALL ".join(legs)
    )


def check_suite_sql(relation: str, rules: list[Rule]) -> str:
    """DuckDB twin of :func:`check_suite` over ``relation``."""
    cols = ["CAST(count(*) AS BIGINT) AS n"]
    for i, r in enumerate(rules):
        if r.distinct_col is not None:
            c = r.distinct_col
            cols.append(
                f"CAST(count({c}) - count(DISTINCT {c}) AS BIGINT) AS v{i}"
            )
        else:
            cols.append(
                f"CAST(coalesce(sum(CASE WHEN {r.sql_cond} THEN 1 ELSE 0 "
                f"END), 0) AS BIGINT) AS v{i}"
            )
    legs = [
        f"SELECT '{r.name}' AS rule, v{i} AS violations, n AS n_rows, "
        f"v{i} <= {r.tol} AS passed FROM m"
        for i, r in enumerate(rules)
    ]
    return (
        f"m AS (SELECT {', '.join(cols)} FROM {relation})\n"
        + "\nUNION ALL ".join(legs)
    )


def documents_rules() -> list[Rule]:
    """The release-gate suite for the ``documents`` corpus table — one
    rule per contract a curation release should certify. ``tol`` on the
    100-char rule demonstrates thresholded pass (short docs tolerated
    up to a budget); everything else is zero-tolerance."""
    return [
        not_null("doc_id"),
        unique("doc_id"),
        bounds("doc_id", lo=0),
        not_null("text"),
        length_min("text", 1),
        length_min("text", 100, tol=50),
        matches("source", "^src[0-9]+$"),
        in_set("lang", ["de", "en", "es", "fr", "zh"]),
        expr_rule(
            "n_chars_consistent",
            lambda: F.col("n_chars").isNotNull()
            & (F.col("n_chars") != F.length("text")),
            "n_chars IS NOT NULL AND n_chars != len(text)",
        ),
    ]


def dq_documents(docs: DataFrame) -> DataFrame:
    """`dq_docs` query entry: the documents release-gate suite."""
    return check_suite(docs, documents_rules())


def dq_documents_sql() -> str:
    return "WITH " + check_suite_sql("documents", documents_rules())
