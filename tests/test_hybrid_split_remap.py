"""Vocabulary remap, PII redaction, multi-touch attribution, the
bucket Fano factor and temperature source mixing — property tests
against small hand-built fixtures and brute-force references."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# vocab_remap
# --------------------------------------------------------------------------

def test_vocab_remap_counter_reference(spark):
    from pyreshaper_spark.operators.vocab import vocab_remap

    data = [
        ("d0", "s0", [5, 5, 9, 5]),
        ("d1", "s0", [9, 9, 3]),
        ("d2", "s1", [3, 5, 7]),
        ("d3", "s1", [7]),
    ]
    seq = spark.createDataFrame(
        data, "doc_id string, source string, tokens array<int>"
    )
    out = {r["doc_id"]: r for r in vocab_remap(seq).collect()}

    cnt = Counter(t for _, _, toks in data for t in toks)
    # frequency-dense ids: most frequent -> 0, ties by token asc
    order = sorted(cnt, key=lambda t: (-cnt[t], t))
    remap = {t: i for i, t in enumerate(order)}
    assert remap == {5: 0, 9: 1, 3: 2, 7: 3}
    for doc_id, _, toks in data:
        r = out[doc_id]
        assert r["n_tok"] == len(toks)
        assert r["new_tokens"] == [remap[t] for t in toks]


def test_vocab_remap_is_order_preserving_bijection(spark, seq):
    """On the real fixture: lengths preserved, and inverting the remap
    recovers the original arrays exactly (no id collisions, order
    intact)."""
    from pyreshaper_spark.operators.vocab import vocab_remap

    base = seq.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        "tokens",
    ).limit(50)
    out = vocab_remap(base)
    joined = base.join(out, "doc_id").collect()
    assert len(joined) == 50
    # rebuild the mapping from observed (old, new) pairs; it must be
    # a function (old -> one new) AND injective (new -> one old)
    fwd: dict[int, int] = {}
    rev: dict[int, int] = {}
    for r in joined:
        assert len(r["tokens"]) == r["n_tok"] == len(r["new_tokens"])
        for old, new in zip(r["tokens"], r["new_tokens"]):
            assert fwd.setdefault(old, new) == new
            assert rev.setdefault(new, old) == old


# --------------------------------------------------------------------------
# pii_redact
# --------------------------------------------------------------------------

def test_pii_redact_patterns_and_counts(spark):
    from pyreshaper_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail a.b@x.io and 1234567890 at 10.0.0.1 end"),
            (2, "clean text only"),
            (3, "two mails a@b.co c@d.org"),
            (4, "ip 192.168.1.100 run 99999999"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert out[1]["red_text"] == "mail <EMAIL> and <NUM> at <IP> end"
    assert out[1]["n_redacted"] == 3
    assert out[2]["red_text"] == "clean text only"
    assert out[2]["n_redacted"] == 0
    assert out[3]["red_text"] == "two mails <EMAIL> <EMAIL>"
    assert out[3]["n_redacted"] == 2
    assert out[4]["red_text"] == "ip <IP> run <NUM>"
    assert out[4]["n_redacted"] == 2


def test_pii_redact_sequential_no_double_count(spark):
    """Digits inside an email are consumed by the email pass and never
    counted again; redacting already-redacted text is a no-op."""
    from pyreshaper_spark.operators.text import pii_redact
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "user12345678@host.com wrote")], "doc_id long, text string"
    )
    first = pii_redact(docs).collect()[0]
    assert first["red_text"] == "<EMAIL> wrote"
    assert first["n_redacted"] == 1  # the digit run vanished WITH the email
    again = pii_redact(
        docs.sparkSession.createDataFrame(
            [(1, first["red_text"])], "doc_id long, text string"
        )
    ).collect()[0]
    assert again["red_text"] == first["red_text"]
    assert again["n_redacted"] == 0


# --------------------------------------------------------------------------
# vocab_remap (empty docs)
# --------------------------------------------------------------------------

def test_vocab_remap_keeps_zero_token_docs(spark):
    """The 'rewrite ALL token arrays' contract: an empty-token doc
    survives as (doc_id, 0, []) instead of silently vanishing."""
    from pyreshaper_spark.operators.vocab import vocab_remap

    seq = spark.createDataFrame(
        [("d0", "s0", [3, 3]), ("d1", "s0", [])],
        "doc_id string, source string, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in vocab_remap(seq).collect()}
    assert set(out) == {"d0", "d1"}
    assert out["d1"]["n_tok"] == 0 and out["d1"]["new_tokens"] == []
    assert out["d0"]["new_tokens"] == [0, 0]


# --------------------------------------------------------------------------
# events_attribution
# --------------------------------------------------------------------------

def test_events_attribution_hand_computed(spark):
    from datetime import datetime, timezone

    from pyreshaper_spark.operators.events import events_attribution

    def ts(s):
        return datetime.fromtimestamp(1700000000 + s, tz=timezone.utc) \
            .replace(tzinfo=None)

    rows = [
        # user 1: view@1 click@2 purchase@3 -> first=view last=click
        (1, ts(1), 1, "view"), (2, ts(2), 1, "click"),
        (3, ts(3), 1, "purchase"),
        # user 2: click@1 purchase@2 view@3(after, ignored)
        (4, ts(1), 2, "click"), (5, ts(2), 2, "purchase"),
        (6, ts(3), 2, "view"),
        # user 3: purchase only -> no touches, no credit
        (7, ts(5), 3, "purchase"),
        # user 4: two views SAME second as purchase: tie-break by
        # event_id -> first = id 8, last = id 9
        (8, ts(7), 4, "view"), (9, ts(7), 4, "view"),
        (10, ts(7), 4, "purchase"),
        # user 5: never converts -> excluded entirely
        (11, ts(1), 5, "click"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        r["event_type"]: (r["first_touch"], r["last_touch"])
        for r in events_attribution(events).collect()
    }
    # credits: user1 first=view last=click; user2 first=click last=click;
    # user4 first=view last=view
    assert out == {"view": (2, 1), "click": (1, 2)}


# --------------------------------------------------------------------------
# bucket_fano
# --------------------------------------------------------------------------

def test_bucket_fano_hand_computed(spark):
    from pyreshaper_spark.operators.rollup import bucket_fano

    # day 0: counts 2, 4 -> n=2, sum=6, sum2=20
    # day 1: constant counts 3, 3, 3 -> dispersion 0 (Fano numerator
    # n*sum2 - sum^2 = 3*27 - 81 = 0)
    tier = spark.createDataFrame(
        [("s0", 0, 2), ("s0", 600, 4),
         ("s0", 86400, 3), ("s0", 87000, 3), ("s0", 87600, 3)],
        "source string, bucket_s long, cnt long",
    )
    out = {
        (r["source"], r["day_s"]): (r["n_buckets"], r["sum_c"], r["sum_c2"])
        for r in bucket_fano(tier).collect()
    }
    assert out == {("s0", 0): (2, 6, 20), ("s0", 86400): (3, 9, 27)}
    n, s, s2 = out[("s0", 86400)]
    assert n * s2 - s * s == 0  # constant arrivals -> zero dispersion


# --------------------------------------------------------------------------
# mix_temperature_sqrt
# --------------------------------------------------------------------------

def test_isqrt_expr_exact(spark):
    from pyreshaper_spark.operators.sampling import _isqrt_expr
    import math

    vals = []
    for k in (1, 2, 7, 1000, 10**6, 2**26):
        vals += [k * k - 1, k * k, k * k + 1]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {
        r["n"]: r["s"]
        for r in df.selectExpr("n", f"{_isqrt_expr('n')} AS s").collect()
    }
    assert got == {v: math.isqrt(v) for v in vals}


def test_mix_temperature_upweights_small_sources(spark):
    from pyreshaper_spark.operators.sampling import mix_temperature_sqrt
    import math

    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "small") for i in range(25)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_temperature_sqrt(docs, budget=100)
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    wb, ws = math.isqrt(400), math.isqrt(25)  # 20, 5
    assert per == {
        "big": 100 * wb // (wb + ws), "small": 100 * ws // (wb + ws)
    }
    # alpha=1/2 gives 'small' 20% of the budget vs 5.9% proportional
    assert per["small"] / sum(per.values()) > 25 / 425
    assert sum(per.values()) <= 100
    # deterministic rerun
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, mix_temperature_sqrt(docs, budget=100).collect()))
    assert a == b
