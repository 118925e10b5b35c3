"""Session-11 operators: leakage-free split, hard-negative mining,
RRF hybrid fusion, vocabulary remap — property tests against small
hand-built fixtures and brute-force references."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# leakage_free_split
# --------------------------------------------------------------------------

def _docs_pairs(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(40)], "doc_id long, source string"
    )
    # components: {0,1,2,3}, {10,11}, {20,21,22}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    return docs, pairs


def test_leakage_free_split_component_coherence(spark):
    from pyreshaper_spark.operators.cluster import leakage_free_split

    docs, pairs = _docs_pairs(spark)
    out = leakage_free_split(docs, pairs, val_bp=3000, test_bp=3000)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 40
    # every clustered member carries its component min as group_key and
    # the SAME split as the representative
    for comp in ([0, 1, 2, 3], [10, 11], [20, 21, 22]):
        keys = {rows[d]["group_key"] for d in comp}
        splits = {rows[d]["split"] for d in comp}
        assert keys == {min(comp)}
        assert len(splits) == 1
    # unclustered docs key on themselves
    assert rows[7]["group_key"] == 7
    assert set(r["split"] for r in rows.values()) <= {"train", "val", "test"}


def test_leakage_free_split_no_cross_split_pair(spark):
    """The defining property: no near-dup PAIR straddles two splits."""
    from pyreshaper_spark.operators.cluster import leakage_free_split

    docs, pairs = _docs_pairs(spark)
    out = leakage_free_split(docs, pairs, val_bp=3000, test_bp=3000)
    j = (
        pairs.join(
            out.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a")), "doc_a")
        .join(out.select(F.col("doc_id").alias("doc_b"),
                         F.col("split").alias("split_b")), "doc_b")
    )
    assert j.filter(F.col("split_a") != F.col("split_b")).count() == 0


def test_leakage_free_split_matches_doc_split_when_unclustered(spark):
    """With NO pairs, the split degenerates to split_assign's doc-hash
    ranges (same hash, same basis points)."""
    from pyreshaper_spark.operators.cluster import leakage_free_split
    from pyreshaper_spark.operators.sampling import split_assign

    docs, _ = _docs_pairs(spark)
    empty = docs.sparkSession.createDataFrame(
        [], "doc_a long, doc_b long"
    )
    a = {
        (r["doc_id"], r["split"])
        for r in leakage_free_split(docs, empty, 1000, 1000).collect()
    }
    b = {
        (r["doc_id"], r["split"])
        for r in split_assign(docs, 1000, 1000).collect()
    }
    assert a == b


# --------------------------------------------------------------------------
# hard_negatives
# --------------------------------------------------------------------------

def test_hard_negatives_brute_force(spark):
    from pyreshaper_spark.operators.similarity import QUANT, hard_negatives

    vecs = []
    for i in range(30):
        v = [((i * 7 + d * 13) % 19) / 10.0 - 0.9 for d in range(4)]
        vecs.append((i, v, i % 3))
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negatives(emb, n_queries=5, k=3).collect()

    # brute force on the same fixed-point grid
    q = {i: [round(float(x) * QUANT) for x in v] for i, v, _ in vecs}
    lab = {i: l for i, _, l in vecs}
    for qid in range(5):
        cands = [
            (sum(a * b for a, b in zip(q[qid], q[n])), n)
            for n in q
            if n != qid and lab[n] != lab[qid]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        expect = [(n, dot, r + 1) for r, (dot, n) in enumerate(cands[:3])]
        got = sorted(
            [(r["neighbor_id"], r["dot"], r["rank"])
             for r in out if r["query_id"] == qid],
            key=lambda t: t[2],
        )
        assert got == expect, (qid, got, expect)
    # label constraint: no neighbor shares the query's label
    for r in out:
        assert lab[r["neighbor_id"]] != r["query_label"]


# --------------------------------------------------------------------------
# rrf_fuse
# --------------------------------------------------------------------------

def test_rrf_fuse_hand_computed(spark):
    from pyreshaper_spark.operators.similarity import RRF_SCALE, rrf_fuse

    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2), (2, 200, 1)],
        "doc_id long, neighbor long, rank long",
    )
    sem = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2), (3, 300, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    out = {
        (r["query_id"], r["neighbor_id"]): (r["rrf"], r["rank"])
        for r in rrf_fuse(lex, sem, k=5, c=60).collect()
    }
    c = 60
    both = RRF_SCALE // (c + 2) + RRF_SCALE // (c + 1)
    assert out[(1, 101)] == (both, 1)  # in both lists -> fused to top
    assert out[(1, 100)] == (RRF_SCALE // (c + 1), 2)
    assert out[(1, 102)] == (RRF_SCALE // (c + 2), 3)
    # one-sided queries survive the full outer join
    assert out[(2, 200)] == (RRF_SCALE // (c + 1), 1)
    assert out[(3, 300)] == (RRF_SCALE // (c + 1), 1)


def test_rrf_fuse_k_cut(spark):
    from pyreshaper_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, n, n) for n in range(1, 8)],
        "doc_id long, neighbor long, rank long",
    )
    sem = spark.createDataFrame(
        [], "query_id long, neighbor_id long, rank long"
    )
    out = rrf_fuse(lex, sem, k=3).collect()
    assert sorted(r["neighbor_id"] for r in out) == [1, 2, 3]


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
# doc_chunks
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# mmr_topk
# --------------------------------------------------------------------------

def _mmr_reference(vecs, n_queries, k, a, b):
    """Greedy MMR brute force on the integer grid."""
    out = []
    for qid in range(n_queries):
        sel = []
        cand = {i: v for i, v in vecs.items() if i != qid}
        for rank in range(1, k + 1):
            best = None
            for nid, nv in cand.items():
                rel = sum(x * y for x, y in zip(vecs[qid], nv))
                ms = max(
                    (sum(x * y for x, y in zip(nv, vecs[s])) for s in sel),
                    default=0,
                )
                score = a * rel - b * ms
                key = (-score, nid)
                if best is None or key < best[0]:
                    best = (key, nid, rel, ms, score)
            _, nid, rel, ms, score = best
            out.append((qid, nid, rel, ms, score, rank))
            sel.append(nid)
            del cand[nid]
    return sorted(out)


def test_mmr_topk_brute_force(spark):
    from pyreshaper_spark.operators.similarity import QUANT, mmr_topk

    rows = []
    for i in range(25):
        v = [((i * 11 + d * 5) % 17) / 8.0 - 1.0 for d in range(4)]
        rows.append((i, v, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    vecs = {
        i: [round(float(x) * QUANT) for x in v] for i, v, _ in rows
    }
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rel"], r["maxsim"],
         r["score"], r["mmr_rank"])
        for r in mmr_topk(emb, n_queries=4, k=3, a=7, b=3).collect()
    )
    assert got == _mmr_reference(vecs, 4, 3, 7, 3)


def test_mmr_diversifies_vs_plain_topk(spark):
    """A query whose two nearest neighbors are near-copies: plain
    top-2 returns both; MMR's second pick skips the redundant copy."""
    from pyreshaper_spark.operators.similarity import mmr_topk, topk_dot

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),   # query
            (1, [0.9, 0.1, 0.0, 0.0], 0),   # top hit
            (2, [0.9, 0.1, 0.0, 0.0], 0),   # exact copy of 1
            (3, [0.5, 0.0, 0.8, 0.0], 0),   # diverse, lower rel
        ],
        "vec_id long, embedding array<float>, label int",
    )
    plain = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_dot(emb, n_queries=1, k=2).collect()
    }
    assert plain[(0, 1)] == 1 and plain[(0, 2)] == 2
    # b large enough that the copy's redundancy outweighs its rel:
    # score(2) = rel - 2|v1|^2 = 9e7-16.4e7; score(3) = 5e7-2*4.5e7
    mmr = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in mmr_topk(emb, n_queries=1, k=2, a=1, b=2).collect()
    }
    assert mmr[(0, 1)] == 1 and mmr[(0, 2)] == 3


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
# survivor_flags_pref
# --------------------------------------------------------------------------

def test_survivor_flags_pref_keeps_best(spark):
    from pyreshaper_spark.operators.cluster import (
        survivor_flags,
        survivor_flags_pref,
    )

    docs = spark.createDataFrame(
        [
            (1, "s0", 10), (2, "s0", 99), (3, "s0", 99),  # comp {1,2,3}
            (10, "s1", 5), (11, "s1", 4),                 # comp {10,11}
            (20, "s1", 7),                                # unclustered
        ],
        "doc_id long, source string, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    kept = {
        r["doc_id"]: r["kept"]
        for r in survivor_flags_pref(docs, pairs, "n_chars").collect()
    }
    # longest wins; 2 vs 3 tie on pref -> min doc_id
    assert kept == {1: False, 2: True, 3: False,
                    10: True, 11: False, 20: True}
    # min-id policy would instead keep 1 — the policies genuinely differ
    kept_min = {
        r["doc_id"]: r["kept"]
        for r in survivor_flags(docs, pairs).collect()
    }
    assert kept_min[1] and not kept_min[2]
    # invariant both share: exactly one survivor per component
    for comp in ([1, 2, 3], [10, 11]):
        assert sum(kept[d] for d in comp) == 1


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


# --------------------------------------------------------------------------
# emb_outliers
# --------------------------------------------------------------------------

def test_emb_outliers_brute_force(spark):
    from pyreshaper_spark.operators.similarity import QUANT, emb_outliers

    rows = []
    for i in range(24):
        v = [((i * 3 + d * 7) % 11) / 10.0 for d in range(4)]
        rows.append((i, v, i % 2))
    # an injected far-away point must rank 1 in its label
    rows.append((99, [9.0, -9.0, 9.0, -9.0], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = emb_outliers(emb, k=3).collect()

    q = {i: [round(float(x) * QUANT) for x in v] for i, v, _ in rows}
    by_label: dict[int, list[int]] = {}
    for i, _, l in rows:
        by_label.setdefault(l, []).append(i)
    for lab, ids in by_label.items():
        n = len(ids)
        S = [sum(q[i][d] for i in ids) for d in range(4)]
        scored = sorted(
            (
                (-sum((n * q[i][d] - S[d]) ** 2 for d in range(4)), i)
                for i in ids
            ),
        )
        expect = [(i, -neg, r + 1) for r, (neg, i) in enumerate(scored[:3])]
        got = sorted(
            [(r["vec_id"], int(r["d2_num"]), r["rank"])
             for r in out if r["label"] == lab],
            key=lambda t: t[2],
        )
        assert got == expect, (lab, got, expect)
    assert [r["vec_id"] for r in out if r["label"] == 0][0] == 99 or any(
        r["vec_id"] == 99 and r["rank"] == 1 for r in out
    )


# --------------------------------------------------------------------------
# pack_materialize
# --------------------------------------------------------------------------

