"""Unit tests for the daily PII rate, the per-source data card, the
calendar-aligned hopping rollup and the RFM, DAU/WAU and
conversion-lag event panels."""

from __future__ import annotations

from pyspark.sql import Row


def test_pii_rate_aggregates(spark):
    from pyreshaper_spark.operators.text import pii_rate

    docs = spark.createDataFrame(
        [
            Row(source="a", day_s=0, text="mail me a@b.com now"),
            Row(source="a", day_s=0, text="clean text"),
            Row(source="a", day_s=86400, text="ip 10.0.0.1 and 1234567890"),
        ]
    )
    out = {(r.source, r.day_s): r for r in pii_rate(docs).collect()}
    d0 = out[("a", 0)]
    assert (d0.n_docs, d0.n_pii_docs, d0.n_emails) == (2, 1, 1)
    assert d0.pii_ppm == 500_000
    d1 = out[("a", 86400)]
    assert d1.n_pii_docs == 1 and d1.n_ipv4 == 1 and d1.n_digit_runs >= 1


def test_datacard_by_source(spark):
    from pyreshaper_spark.operators.text import datacard_by_source

    import re

    good = "the and of to is in that with " + "wind xylo yarn zeta " * 5
    nw = len(re.split(r"\s+", good))  # regex split keeps a trailing ''
    docs = spark.createDataFrame(
        [
            Row(doc_id="1", source="a", text=good),
            Row(doc_id="2", source="a", text=good),        # exact dup
            Row(doc_id="3", source="a", text="短 le la les et des"),
            Row(doc_id="4", source="b", text="a@b.com " + good),
        ]
    )
    out = {r.source: r for r in datacard_by_source(docs).collect()}
    a = out["a"]
    assert a.n_docs == 3
    # dup: 3 docs, 2 distinct hashes → 1/3
    assert a.dup_ppm == 1_000_000 // 3
    # quality: docs 1,2 pass (long + diverse); doc 3 fails (<10 words)
    assert a.ok_ppm == 2 * 1_000_000 // 3
    assert a.pii_ppm == 0
    # majority language: two English docs vs one French
    assert a.top_lang == "en"
    # median words: sorted word counts (6, nw, nw) → lower median nw
    assert a.p50_words == nw
    b = out["b"]
    assert b.pii_ppm == 1_000_000 and b.n_docs == 1
    assert b.p50_words == nw + 1


def test_hopping_rollup_calendar_true(spark):
    from pyreshaper_spark.operators.rollup import hopping_rollup

    # two 10m buckets: 0 and 3000s; window 1800, hop 600
    tier = spark.createDataFrame(
        [
            Row(source="a", bucket_s=0, sum_n_tok=5),
            Row(source="a", bucket_s=3000, sum_n_tok=7),
        ]
    )
    out = {
        r.win_start_s: (r.n_buckets, r.sum_v)
        for r in hopping_rollup(tier, win_s=1800, hop_s=600).collect()
    }
    # bucket 0 lands in windows starting -1200, -600, 0
    for ws in (-1200, -600, 0):
        assert out[ws] == (1, 5)
    # bucket 3000 in windows 1800, 2400, 3000 — never shares a window
    for ws in (1800, 2400, 3000):
        assert out[ws] == (1, 7)
    assert len(out) == 6
    # reference brute force: every window [ws, ws+1800) collects the
    # buckets it contains
    rows = [(0, 5), (3000, 7)]
    for ws, (n, sv) in out.items():
        inside = [v for b, v in rows if ws <= b < ws + 1800]
        assert (len(inside), sum(inside)) == (n, sv)


def test_events_rfm(spark):
    import datetime as dt

    from pyreshaper_spark.operators.events import events_rfm

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=t0, user_id=1, event_type="view",
                value=1.25, props="{}"),
            Row(event_id=2, ts=t0 + dt.timedelta(days=1), user_id=1,
                event_type="purchase", value=10.50, props="{}"),
            Row(event_id=3, ts=t0 + dt.timedelta(hours=1), user_id=2,
                event_type="view", value=0.0, props="{}"),
        ]
    )
    out = {r.user_id: r for r in events_rfm(ev).collect()}
    u1 = out[1]
    assert u1.n_events == 2 and u1.active_days == 2 and u1.n_types == 2
    assert u1.sum_cents == 125 + 1050
    assert u1.purchase_cents == 1050
    assert u1.last_s - u1.first_s == 86400
    assert out[2].purchase_cents == 0


def test_events_dau_wau(spark):
    import datetime as dt

    from pyreshaper_spark.operators.events import events_dau_wau

    def ev(eid, day, uid):
        return Row(
            event_id=eid,
            ts=dt.datetime(2024, 1, 1) + dt.timedelta(days=day),
            user_id=uid, event_type="view", value=0.0, props="{}",
        )

    # day0: users 1,2; day1: user 1; day8: user 3
    df = spark.createDataFrame(
        [ev(1, 0, 1), ev(2, 0, 2), ev(3, 0, 1), ev(4, 1, 1), ev(5, 8, 3)]
    )
    out = {r.day_s: r for r in events_dau_wau(df).collect()}
    d0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    assert out[d0].dau == 2 and out[d0].wau == 2
    # day1: dau 1 (user 1), wau 2 (users 1,2 within trailing 7d)
    assert out[d0 + 86400].dau == 1 and out[d0 + 86400].wau == 2
    # day8: only user 3 in window (day0/1 are 7+ days back)
    assert out[d0 + 8 * 86400].dau == 1 and out[d0 + 8 * 86400].wau == 1
    assert out[d0].stick_ppm == 1_000_000


def test_events_conversion_lag(spark):
    import datetime as dt

    from pyreshaper_spark.operators.events import events_conversion_lag

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, secs, uid, typ):
        return Row(event_id=eid, ts=t0 + dt.timedelta(seconds=secs),
                   user_id=uid, event_type=typ, value=0.0, props="{}")

    df = spark.createDataFrame(
        [
            ev(1, 0, 1, "signup"),
            ev(2, 50, 1, "purchase"),   # converts after 50 s
            ev(3, 30, 2, "purchase"),   # purchase BEFORE signup: no lag
            ev(4, 40, 2, "signup"),
            ev(5, 10, 3, "signup"),     # never purchases
        ]
    )
    out = {r.user_id: r for r in events_conversion_lag(df).collect()}
    assert out[1].lag_s == 50
    assert 2 not in out  # purchase precedes first signup
    assert 3 not in out  # no purchase
