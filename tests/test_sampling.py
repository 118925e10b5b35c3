"""Deterministic sampling / splitting / mixing (operators/sampling.py):
rerun-stability, partition independence, and DuckDB oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.operators import sampling as SMP
from tests.conftest import SF_SMOKE, ddb_rows_set, rows_set


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()


def test_hash_sample_deterministic_and_layout_independent(docs):
    a = rows_set(SMP.hash_sample(docs, 3000).select("doc_id"))
    b = rows_set(SMP.hash_sample(docs.repartition(7), 3000).select("doc_id"))
    assert a == b and 0 < len(a) < docs.count()


def test_hash_sample_rate_monotone(docs):
    small = rows_set(SMP.hash_sample(docs, 1000).select("doc_id"))
    big = rows_set(SMP.hash_sample(docs, 5000).select("doc_id"))
    assert small < big  # nested samples: rate increase only adds docs


def test_split_assign_partitions_disjoint_and_stable(docs):
    out = SMP.split_assign(docs, val_bp=1000, test_bp=1000)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()
    # growing the corpus never reassigns an existing doc
    sub = SMP.split_assign(docs.filter(F.col("doc_id") % 2 == 0),
                           val_bp=1000, test_bp=1000)
    full = {r["doc_id"]: r["split"] for r in out.collect()}
    for r in sub.collect():
        assert full[r["doc_id"]] == r["split"]


def test_mix_sources_quota_and_uniformity(docs):
    out = SMP.mix_sources(docs, {"src0": 10, "src1": 5})
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got == {"src0": 10, "src1": 5}
    ranks = sorted(r["mix_rank"] for r in
                   out.filter(F.col("source") == "src0").collect())
    assert ranks == list(range(1, 11))


def test_sampling_matches_duckdb_oracle(docs, ddb):
    pairs = [
        (SMP.hash_sample(docs, 3000).select("doc_id", "source"),
         "SELECT doc_id, source FROM (" + SMP.hash_sample_sql(3000) + ")"),
        (SMP.split_assign(docs).select("doc_id", "split"),
         "SELECT doc_id, split FROM (" + SMP.split_assign_sql() + ")"),
        (SMP.mix_sources(docs, {"src2": 7}).select("doc_id", "mix_rank"),
         "SELECT doc_id, mix_rank FROM ("
         + SMP.mix_sources_sql({"src2": 7}) + ")"),
    ]
    for df, sql in pairs:
        assert rows_set(df) == ddb_rows_set(ddb, sql, df.columns)


def test_mix_token_budget_floors_and_determinism(spark):
    from pyreshaper_spark.operators.sampling import mix_token_budget

    seq = spark.createDataFrame(
        [(f"d{i}", "s0" if i % 2 else "s1", 100 + i) for i in range(40)],
        "doc_id string, source string, n_tok long",
    )
    out = mix_token_budget(seq, {"s0": 450, "s1": 250}).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # budget is a floor: total tokens >= budget, and removing the
    # boundary doc would drop below it
    for src, budget in (("s0", 450), ("s1", 250)):
        rows = sorted(by_src[src], key=lambda r: r["mix_rank"])
        total = sum(r["n_tok"] for r in rows)
        assert total >= budget
        assert total - rows[-1]["n_tok"] < budget
        assert rows[-1]["cum_tok"] == total
        assert [r["mix_rank"] for r in rows] == list(range(1, len(rows) + 1))
    # unbudgeted sources are dropped; rerun is byte-identical
    assert set(by_src) == {"s0", "s1"}
    again = mix_token_budget(seq, {"s0": 450, "s1": 250}).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_mix_quality_budget_cleanest_first(spark):
    """Quality-ranked curation: per source, docs are consumed in
    ascending rare-token-share order; budget is a floor; ranking
    matches a brute-force Python recount of the rarity quotient."""
    from pyreshaper_spark.operators.sampling import mix_quality_budget

    # two sources; doc i carries i copies of a GLOBALLY-rare token
    # (df=1) plus common filler, so the rarity share strictly grows
    # with i — the quality order is the reverse of the id order.
    rows = []
    for i in range(8):
        src = "s0" if i < 4 else "s1"
        toks = [1000 + i] * (i + 1) + [7] * 10  # token 7: df=8 (common)
        rows.append((f"d{i}", src, toks))
    seq = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>"
    )
    out = mix_quality_budget(seq, {"s0": 25, "s1": 30}, max_df=1).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1"}
    for src, budget in (("s0", 25), ("s1", 30)):
        got = sorted(by_src[src], key=lambda r: r["mix_rank"])
        # cleanest-first: qkey non-decreasing along the rank order,
        # and it equals the brute-force integer quotient
        for r in got:
            i = int(r["doc_id"][1:])
            n_occ, n_rare = (i + 1) + 10, (i + 1)
            assert r["qkey"] == n_rare * 1_000_000 // n_occ
        assert [r["qkey"] for r in got] == sorted(r["qkey"] for r in got)
        total = sum(r["n_tok"] for r in got)
        assert total >= budget and total - got[-1]["n_tok"] < budget
    # the selected docs are exactly the cleanest prefix per source
    assert [r["doc_id"] for r in sorted(by_src["s0"], key=lambda r: r["mix_rank"])][:2] == ["d0", "d1"]


def test_two_pass_global_ranks_parity(spark):
    """The 10^12-row boundary-broadcast path must reproduce the exact
    windowed forms row for row — including heavy length/score ties,
    NULL keys and N not divisible by 10 — and its plan must carry no corpus-global
    window (the only empty-partition window runs over the tiny
    distinct-boundary relation)."""
    from pyreshaper_spark.operators.sampling import (
        doc_len_deciles,
        quality_pctl,
    )

    rows = []
    for i in range(137):
        # heavy ties: only 5 distinct lengths; texts with repeated words
        rows.append(
            (str(i), f"s{i % 3}", (i % 5) * 10 + 3,
             " ".join(f"w{j % (1 + i % 7)}" for j in range(1 + i % 11)))
        )
    # NULL keys (length for the deciles, source for the percentiles):
    # the window forms rank them NULLS FIRST, the two-pass joins must
    # keep them too. 138 % 10 == 8: uneven buckets
    rows.append(("137", None, None, "w0 w1 w0"))
    docs = spark.createDataFrame(
        rows, "doc_id string, source string, n_chars long, text string"
    )

    exact = sorted(tuple(r) for r in doc_len_deciles(docs).collect())
    fast = sorted(
        tuple(r) for r in doc_len_deciles(docs, two_pass=True).collect()
    )
    assert exact == fast

    exact_q = sorted(tuple(r) for r in quality_pctl(docs).collect())
    fast_q = sorted(
        tuple(r) for r in quality_pctl(docs, two_pass=True).collect()
    )
    assert exact_q == fast_q

    # plan shape: the exact form sorts the corpus in ONE partition
    # (ntile's empty partitionBy); the two-pass form must not — its
    # docs-sized window partitions by the boundary column instead.
    exact_plan = (
        doc_len_deciles(docs)._jdf.queryExecution().executedPlan().toString()
    )
    fast_plan = (
        doc_len_deciles(docs, two_pass=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ntile" in exact_plan
    assert "ntile" not in fast_plan
    # every docs-sized Window in the fast plan is hash-partitioned by
    # the boundary column (physical node prints
    # `Window [exprs], [n_chars#..], [doc_id#..]`)
    import re

    assert re.search(r"Window \[[^\n]*\], \[n_chars#\d+", fast_plan)


def test_two_pass_deciles_small_corpus_total(spark):
    """N < 10 (q = 0): every doc its own decile prefix — the closed-
    form bucket mapping must not divide by zero."""
    from pyreshaper_spark.operators.sampling import doc_len_deciles

    docs = spark.createDataFrame(
        [(str(i), "s", i + 1, "x") for i in range(4)],
        "doc_id string, source string, n_chars long, text string",
    )
    exact = sorted(tuple(r) for r in doc_len_deciles(docs).collect())
    fast = sorted(
        tuple(r) for r in doc_len_deciles(docs, two_pass=True).collect()
    )
    assert exact == fast
