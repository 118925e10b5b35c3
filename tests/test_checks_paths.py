"""Declarative DQ suite, token coverage curve, 3-step paths, rollup
release diff."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# --------------------------------------------------------------------------
# check_suite
# --------------------------------------------------------------------------

def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_dq_documents_clean_corpus(spark, ddb):
    from pyreshaper_spark.operators.checks import (
        dq_documents,
        dq_documents_sql,
    )

    rows = {r["rule"]: r for r in dq_documents(_docs(spark)).collect()}
    assert len(rows) == 9
    n = _docs(spark).count()
    for r in rows.values():
        assert r["n_rows"] == n
    # zero-tolerance contracts hold on the shipped corpus
    for name in (
        "doc_id_not_null", "doc_id_unique", "doc_id_bounds",
        "text_not_null", "text_length_min1", "source_matches",
        "lang_in_set", "n_chars_consistent",
    ):
        assert rows[name]["violations"] == 0 and rows[name]["passed"], name
    # the thresholded rule: verdict == (violations <= tol), both engines
    ora = {
        t[0]: t for t in ddb.sql(dq_documents_sql()).fetchall()
    }
    for name, r in rows.items():
        assert ora[name][1] == r["violations"], name
        assert bool(ora[name][3]) == r["passed"], name


def test_check_suite_injected_violations(spark):
    from pyreshaper_spark.operators.checks import (
        bounds,
        check_suite,
        expr_rule,
        in_set,
        length_min,
        matches,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "hello world", "en", "src1"),
            (1, "dup id", "en", "src2"),        # duplicate id
            (None, "null id", "xx", "src3"),    # null id + bad lang
            (-5, "", "en", "SRC4"),             # bound + short + pattern
            (7, None, "de", "src5"),            # null text
        ],
        "doc_id int, text string, lang string, source string",
    )
    rules = [
        not_null("doc_id"),
        unique("doc_id"),
        bounds("doc_id", lo=0),
        not_null("text"),
        length_min("text", 1),
        matches("source", "^src[0-9]+$"),
        in_set("lang", ["en", "de"]),
        expr_rule(
            "text_has_space",
            F.col("text").isNotNull() & ~F.col("text").contains(" "),
            "text IS NOT NULL AND text NOT LIKE '% %'",
        ),
    ]
    got = {r["rule"]: r["violations"] for r in check_suite(df, rules).collect()}
    assert got == {
        "doc_id_not_null": 1,
        "doc_id_unique": 1,
        "doc_id_bounds": 1,
        "text_not_null": 1,
        "text_length_min1": 1,
        "source_matches": 1,
        "lang_in_set": 1,
        "text_has_space": 1,
    }
    verdicts = {r["rule"]: r["passed"] for r in check_suite(df, rules).collect()}
    assert not any(verdicts.values())
    # tolerance flips the verdict without changing the count
    tol_rules = [not_null("doc_id", tol=1)]
    r = check_suite(df, tol_rules).collect()[0]
    assert r["violations"] == 1 and r["passed"]


def test_check_suite_empty_input(spark):
    from pyreshaper_spark.operators.checks import (
        check_suite,
        not_null,
        unique,
    )

    df = spark.createDataFrame([], "doc_id int, text string")
    rows = check_suite(df, [not_null("doc_id"), unique("doc_id")]).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["violations"] == 0 and r["n_rows"] == 0 and r["passed"]


def test_check_suite_rejects_bad_suites(spark):
    from pyreshaper_spark.operators.checks import check_suite, not_null

    df = spark.range(1)
    with pytest.raises(ValueError):
        check_suite(df, [])
    with pytest.raises(ValueError):
        check_suite(df, [not_null("id"), not_null("id")])


def test_check_suite_single_scan_plan(spark):
    """The whole suite compiles to ONE scan of the input."""
    from pyreshaper_spark.operators.checks import dq_documents

    plan = dq_documents(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


# --------------------------------------------------------------------------
# token_coverage
# --------------------------------------------------------------------------

def test_token_coverage_hand_fixture(spark):
    from pyreshaper_spark.operators.vocab import token_coverage

    # token 1 ×6, token 2 ×3, token 3 ×1  (total 10)
    rows = [(1,)] * 6 + [(2,)] * 3 + [(3,)]
    tok = spark.createDataFrame(rows, "token long").withColumns(
        {"source": F.lit("s"), "event_s": F.lit(0).cast("long")}
    )
    out = {
        r["k"]: r for r in token_coverage(tok, ks=(1, 2, 8)).collect()
    }
    assert out[1]["covered_cnt"] == 6 and out[1]["top_tokens"] == 1
    assert out[2]["covered_cnt"] == 9 and out[2]["covered_ppm"] == 900_000
    # budget beyond V covers everything with top_tokens == V
    assert out[8]["covered_cnt"] == 10 and out[8]["top_tokens"] == 3
    assert out[8]["covered_ppm"] == 1_000_000


def test_token_coverage_monotone_real(spark):
    from pyreshaper_spark.operators.vocab import token_coverage, token_stream

    out = sorted(
        token_coverage(token_stream(_docs(spark))).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in out] == [16, 64, 256, 1024]
    covered = [r["covered_cnt"] for r in out]
    assert covered == sorted(covered)
    for r in out:
        assert r["covered_cnt"] <= r["total_cnt"]
        assert r["top_tokens"] <= r["k"]
        assert 0 <= r["covered_ppm"] <= 1_000_000


# --------------------------------------------------------------------------
# events_paths3
# --------------------------------------------------------------------------

def test_events_paths3_hand_fixture(spark):
    from pyreshaper_spark.operators.events import events_paths3

    rows = [
        # user A: view -> cart -> buy -> view
        ("A", 1, "view", "2024-01-01 00:00:01"),
        ("A", 2, "cart", "2024-01-01 00:00:02"),
        ("A", 3, "buy", "2024-01-01 00:00:03"),
        ("A", 4, "view", "2024-01-01 00:00:04"),
        # user B: only two events — no trigram
        ("B", 5, "view", "2024-01-01 00:00:01"),
        ("B", 6, "cart", "2024-01-01 00:00:02"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, event_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["t1"], r["t2"], r["t3"]): r["n_paths"]
        for r in events_paths3(ev).collect()
    }
    assert got == {
        ("view", "cart", "buy"): 1,
        ("cart", "buy", "view"): 1,
    }


def test_events_paths3_conservation(spark):
    """Σ n_paths == Σ_user max(n_u − 2, 0)."""
    from pyreshaper_spark.operators.events import events_paths3

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    total = events_paths3(ev).agg(F.sum("n_paths")).collect()[0][0]
    per_user = (
        ev.groupBy("user_id")
        .count()
        .agg(F.sum(F.greatest(F.col("count") - 2, F.lit(0))))
        .collect()[0][0]
    )
    assert total == per_user


# --------------------------------------------------------------------------
# rollup_diff
# --------------------------------------------------------------------------

def test_rollup_diff_identity_is_empty(spark, seq):
    from pyreshaper_spark.operators.rollup import rollup_diff, rollup_tier0

    t = rollup_tier0(seq, 600)
    assert rollup_diff(t, t).count() == 0


def test_rollup_diff_base_vs_gappy(spark, seq):
    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.operators.rollup import rollup_diff, rollup_tier0

    ta = rollup_tier0(seq, 600)
    tb = rollup_tier0(sequences_df(spark, SF_SMOKE, variant="gappy"), 600)
    diff = rollup_diff(ta, tb).collect()
    assert diff  # the gappy release drops src1 minute-buckets ≡ 3 mod 5
    for r in diff:
        # only the filtered source changes, always shrinking
        assert r["source"] == "src1"
        assert r["d_cnt"] < 0 or (r["d_cnt"] == 0 and r["d_sum"] != 0)
        assert r["b_cnt"] == r["a_cnt"] + r["d_cnt"]
    # reconciliation against an independent recompute: applying the
    # diff to release A reproduces release B exactly
    patched = (
        ta.join(
            spark.createDataFrame(diff).select(
                "source", "bucket_s", "d_cnt", "d_sum"
            ),
            ["source", "bucket_s"],
            "left",
        )
        .select(
            "source",
            "bucket_s",
            (F.col("cnt") + F.coalesce("d_cnt", F.lit(0))).alias("cnt"),
            (F.col("sum_n_tok") + F.coalesce("d_sum", F.lit(0))).alias(
                "sum_n_tok"
            ),
        )
        .filter(F.col("cnt") > 0)
    )
    got = {
        (r["source"], r["bucket_s"], r["cnt"], r["sum_n_tok"])
        for r in patched.collect()
    }
    want = {
        (r["source"], r["bucket_s"], r["cnt"], r["sum_n_tok"])
        for r in tb.select("source", "bucket_s", "cnt", "sum_n_tok").collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# doc_tfidf
# --------------------------------------------------------------------------

def test_doc_tfidf_hand_fixture(spark):
    from pyreshaper_spark.operators.vocab import doc_tfidf

    # 4 docs: token 1 appears in all (df=4), token 9 only in d4 (df=1)
    rows = [
        ("d1", [1, 1, 1]),
        ("d2", [1, 1]),
        ("d3", [1]),
        ("d4", [1, 9]),
    ]
    seq = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r["doc_id"]: r for r in doc_tfidf(seq).collect()}
    # idf_ppm: token1 = 4e6 div 4 = 1_000_000; token9 = 4e6 div 1
    assert out["d1"]["tfidf_ppm"] == 1_000_000
    assert out["d1"]["n_occ"] == 3 and out["d1"]["n_terms"] == 1
    # d4 = mean(1e6, 4e6) = 2_500_000 — the rare-term doc ranks top
    assert out["d4"]["tfidf_ppm"] == 2_500_000
    assert out["d4"]["n_terms"] == 2
    ranks = sorted(out, key=lambda d: -out[d]["tfidf_ppm"])
    assert ranks[0] == "d4"


def test_doc_tfidf_invariants_real(spark):
    from pyreshaper_spark.operators.vocab import doc_tfidf

    seq = spark.createDataFrame(
        [(str(r["doc_id"]),
          [hash(w) % 101 for w in (r["text"] or "").split()])
         for r in _docs(spark).collect()],
        "doc_id string, tokens array<int>",
    )
    n_docs = seq.count()
    out = doc_tfidf(seq)
    # every doc with tokens scores in [1e6, N*1e6]
    bad = out.filter(
        (F.col("tfidf_ppm") < 1_000_000)
        | (F.col("tfidf_ppm") > n_docs * 1_000_000)
    )
    assert bad.count() == 0
    assert out.count() == seq.filter(F.size("tokens") > 0).count()


def test_rollup_diff_minmax_only_change(spark):
    """A restate that preserves cnt and sum but moves min/max must
    still be reported (the audit false-negative case)."""
    from pyreshaper_spark.operators.rollup import rollup_diff

    schema = (
        "source string, bucket_s long, cnt long, sum_n_tok long, "
        "min_n_tok long, max_n_tok long"
    )
    a = spark.createDataFrame([("s", 0, 2, 30, 10, 20)], schema)
    b = spark.createDataFrame([("s", 0, 2, 30, 5, 25)], schema)
    rows = rollup_diff(a, b).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["d_cnt"] == 0 and r["d_sum"] == 0 and r["minmax_changed"]
    # and an identical cell still produces no diff row
    assert rollup_diff(a, a).count() == 0


def test_check_suite_by_source_attribution(spark):
    """The keyed suite pins violations to the offending feed, and its
    cond-rule counts decompose the global suite exactly."""
    from pyreshaper_spark.operators.checks import (
        check_suite,
        check_suite_by,
        documents_rules,
    )

    docs = _docs(spark)
    bad = spark.createDataFrame(
        [(990001, None, "xx", "src3", 7)], docs.schema
    )
    both = docs.unionByName(bad)
    by = check_suite_by(both, documents_rules()).collect()
    # the injected row's violations land on src3 and nowhere else
    for r in by:
        if r["rule"] in ("text_not_null", "lang_in_set"):
            want = 1 if r["source"] == "src3" else 0
            assert r["violations"] == want, (r["source"], r["rule"])
    # decomposition: per-source counts sum to the global suite for
    # every cond rule (unique is per-group by design)
    glob = {
        r["rule"]: r["violations"]
        for r in check_suite(both, documents_rules()).collect()
    }
    sums: dict = {}
    n_total = 0
    for r in by:
        sums[r["rule"]] = sums.get(r["rule"], 0) + r["violations"]
        if r["rule"] == "doc_id_not_null":
            n_total += r["n_rows"]
    assert n_total == both.count()
    for rule, v in sums.items():
        if rule != "doc_id_unique":
            assert v == glob[rule], rule
