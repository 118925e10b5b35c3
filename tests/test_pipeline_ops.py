"""Training-data pipeline operators: dedup, similarity and text
analysis. Semantics tests here; exact oracle parity is
covered by tools/oracle_check.py over __spark_entry__ entries."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.operators import dedup, similarity, text
from tests.conftest import SF_SMOKE, rows_set


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").cache()


# ---- text ---------------------------------------------------------------

def test_text_stats_consistency(docs):
    r = text.text_stats(docs)
    bad = r.filter(
        (F.col("n_distinct_words") > F.col("n_words"))
        | (F.col("n_words") <= 0)
        | (F.col("total_word_chars") < F.col("n_words"))  # words ≥ 1 char
    )
    assert bad.count() == 0
    assert r.count() == docs.count()


def test_quality_flag_integer_ratio(docs):
    r = text.quality_score(docs)
    row = r.filter(F.col("ok") == 1).first()
    assert row is not None
    assert 10 <= row["n_words"] <= 100000


def test_lang_id_deterministic_argmax(docs):
    r = text.lang_id(docs)
    assert r.count() == docs.count()
    langs = {x["lang_pred"] for x in r.select("lang_pred").distinct().collect()}
    assert langs <= set(text.LANG_MARKERS)


def test_fingerprint_detects_reorder(spark):
    d = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "cc bb aa"), (3, "aa bb cc")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in text.fingerprint(d).collect()}
    assert r[1]["fp_roll"] == r[3]["fp_roll"]
    assert r[1]["fp_roll"] != r[2]["fp_roll"]  # order-sensitive
    assert r[1]["fp_set_sum"] == r[2]["fp_set_sum"]  # order-insensitive


# ---- dedup --------------------------------------------------------------

def test_exact_dedup_finds_planted_dupes(spark, docs):
    planted = docs.limit(5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    r = dedup.exact_dup_groups(docs.unionByName(planted))
    assert r.count() >= 5
    assert r.filter(F.col("n_copies") < 2).count() == 0


def test_minhash_lsh_catches_near_identical(spark):
    base = "spark rollup tier bucket series token stream encode decode salt"
    rows = [(1, base), (2, base + " extra"), (3, "totally different words here")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.verified_near_dups(d)
    got = {(x["doc_a"], x["doc_b"]) for x in r.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_minhash_bucket_cap_bounds_boilerplate(spark):
    base = "spark rollup tier bucket series token stream encode decode salt"
    # a boilerplate cluster of 30 near-identical docs + one honest pair
    rows = [(i, base + f" v{i % 2}") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta eta theta iota")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.verified_near_dups(d, max_bucket=10)
    got = {(x["doc_a"], x["doc_b"]) for x in capped.collect()}
    # the honest pair survives (its bucket has 2 members) …
    assert (100, 101) in got
    # … while the 30-doc boilerplate bucket (>10 wide) is dropped
    assert all(a >= 100 for a, _ in got)
    # uncapped finds the boilerplate pairs — the cap is what removed them
    unc = {(x["doc_a"], x["doc_b"])
           for x in dedup.verified_near_dups(d).collect()}
    assert any(a < 100 for a, _ in unc)


def test_simhash_near_dup_hamming(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(1, base), (2, base + " tail"), (3, " ".join(f"z{i}" for i in range(40)))]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(x["doc_a"], x["doc_b"]): x["hamming"]
             for x in dedup.simhash_pairs(d, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_ngram_jaccard_pairs(spark):
    a = "one two three four five six seven eight nine ten"
    rows = [(1, a), (2, a.replace("ten", "eleven")), (3, "x y z w v u t s r q")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.ngram_jaccard_pairs(d, n=3, jaccard_num=3, jaccard_den=10)
    got = {(x["doc_a"], x["doc_b"]) for x in r.collect()}
    assert (1, 2) in got and all(3 not in p for p in got)


# ---- similarity ---------------------------------------------------------

def test_topk_dot_matches_numpy(spark, emb):
    r = similarity.topk_dot(emb, n_queries=3, k=4).collect()
    rows = emb.select("vec_id", "embedding").collect()
    q = {x["vec_id"]: np.round(np.array(x["embedding"]) * similarity.QUANT)
         .astype(np.int64) for x in rows}
    for qid in range(3):
        scored = sorted(
            ((int(q[qid] @ v), -nid) for nid, v in q.items() if nid != qid),
            reverse=True,
        )[:4]
        expect = [(-nid, dot) for dot, nid in scored]
        got = sorted(
            [(x["neighbor_id"], x["dot"]) for x in r if x["query_id"] == qid],
            key=lambda t: ([e[0] for e in expect].index(t[0])),
        )
        assert got == expect


def test_lsh_buckets_contain_near_dups(spark, emb):
    """A vector and a tiny perturbation of it must share a bucket."""
    rows = emb.limit(1).collect()
    v = np.array(rows[0]["embedding"], dtype=np.float32)
    d = spark.createDataFrame(
        [(100001, (v * 1.0).tolist()), (100002, (v * 1.001).tolist())],
        "vec_id long, embedding array<float>",
    )
    b = similarity.lsh_buckets(d).collect()
    assert b[0]["bucket"] == b[1]["bucket"]


def test_cosine_near_dup_exact_threshold(spark):
    d = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),  # cos ≈ 0.99995
            (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    got = {(x["vec_a"], x["vec_b"]) for x in
           similarity.cosine_near_dups(d, num=9, den=10, dim=4).collect()}
    assert got == {(1, 2)}
    exact = {(x["vec_a"], x["vec_b"]) for x in
             similarity.cosine_near_dups_exact(d, num=9, den=10).collect()}
    assert exact == {(1, 2)}


def test_cosine_near_dup_lsh_recall(spark, emb):
    """Banded-LSH near-dup pairs vs brute force at a moderate threshold:
    every LSH pair is exact (subset), and recall is solid — the banding
    math says ≈95% at cos 0.9; lower thresholds admit more bit flips so
    we assert a conservative floor on the synthetic vectors."""
    lsh = {(x["vec_a"], x["vec_b"]) for x in
           similarity.cosine_near_dups(emb, num=2, den=5).collect()}
    exact = {(x["vec_a"], x["vec_b"]) for x in
             similarity.cosine_near_dups_exact(emb, num=2, den=5).collect()}
    assert lsh <= exact
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.5


def test_cosine_near_dup_bucket_cap_bounds_fanout(spark, emb):
    """max_bucket drops over-wide (band, band_bits) buckets BEFORE the
    self-join: capped pairs are a subset of uncapped, and a tiny cap on
    a dense fixture provably removes pairs (the knob actually binds)."""
    uncapped = {(x["vec_a"], x["vec_b"]) for x in
                similarity.cosine_near_dups(emb, num=2, den=5).collect()}
    capped = {(x["vec_a"], x["vec_b"]) for x in
              similarity.cosine_near_dups(
                  emb, num=2, den=5, max_bucket=10
              ).collect()}
    assert capped <= uncapped
    assert len(capped) < len(uncapped)


def test_cosine_near_dup_recall_near_threshold(spark):
    """Adversarial fixture: pairs engineered to sit just ABOVE the 9/10
    threshold (cos 0.92). The exact-threshold filter must keep every
    above pair and reject the just-below (cos 0.86) ones; banded LSH
    must clear a recall floor on exactly these hard pairs."""
    import math
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    above, below = [], []
    vid = 0
    for i in range(30):
        v = rng.normal(size=64)
        v /= np.linalg.norm(v)
        o = rng.normal(size=64)
        o -= o.dot(v) * v
        o /= np.linalg.norm(o)
        for cos_t, reg in ((0.92, above), (0.86, below)):
            w = cos_t * v + math.sqrt(1 - cos_t * cos_t) * o
            rows.append((vid, [float(x) for x in v]))
            rows.append((vid + 1, [float(x) for x in w]))
            reg.append((vid, vid + 1))
            vid += 2
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    exact = {(x["vec_a"], x["vec_b"]) for x in
             similarity.cosine_near_dups_exact(emb, num=9, den=10).collect()}
    assert set(above) <= exact
    assert not (set(below) & exact)
    lsh = {(x["vec_a"], x["vec_b"]) for x in
           similarity.cosine_near_dups(emb, num=9, den=10).collect()}
    assert lsh <= exact
    hit = len(lsh & set(above)) / len(above)
    assert hit >= 0.6, f"near-threshold LSH recall {hit}"


def test_ivf_probe_recall_vs_bruteforce(spark, emb):
    """IVF probe (hamming ≤ 1 lists + exact rerank) recovers a solid
    fraction of true MIPS top-5 — and every returned pair is exact."""
    probe = similarity.ivf_probe_topk(emb, n_queries=5, k=5)
    brute = similarity.topk_dot(emb, n_queries=5, k=5)
    p = {(r["query_id"], r["neighbor_id"]) for r in probe.collect()}
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    assert len(p) > 0
    recall = len(p & b) / len(b)
    assert recall >= 0.2  # synthetic gaussian vectors: probe is approximate


def test_read_tier_prunes_files_from_manifest(spark, tmp_path):
    """read_tier: on a multi-file table sorted on (source, bucket_s),
    the source predicate and the time range skip files via manifest
    source/bucket_s stats — asserted by counting the files the read
    opens, not just the row results."""
    from pyreshaper_spark.plans.pipeline import TIER_KEYS
    from pyreshaper_spark.sources.iceberglite import IcebergLite
    from pyreshaper_spark.sql import read_tier

    cat = IcebergLite(str(tmp_path / "cat"))
    rows = [
        (s, b * 600, b + 1)
        for s in ("a", "b", "c")
        for b in range(40)
    ]
    df = spark.createDataFrame(
        rows, "source string, bucket_s long, cnt long"
    ).repartitionByRange(6, *TIER_KEYS).sortWithinPartitions(*TIER_KEYS)
    cat.overwrite("tier_x", df, stats_cols=TIER_KEYS)

    out = read_tier(
        spark, cat, "tier_x", sources=["b"], t_min=600 * 10, t_max=600 * 20
    )
    got = sorted((r["source"], r["bucket_s"]) for r in out.collect())
    assert got == [("b", 600 * b) for b in range(10, 20)]

    # manifest-level pruning actually happened: the read opens exactly
    # the files whose stats can hold source b in [6000, 12000), a
    # strict subset of the snapshot's files
    snap = cat._snapshot("tier_x", None)
    assert len(snap["files"]) == 6
    assert all(set(TIER_KEYS) <= set(f["stats"]) for f in snap["files"])
    want = {
        p for p, f in zip(cat.live_paths("tier_x"), snap["files"])
        if f["stats"]["source"][0] <= "b" <= f["stats"]["source"][1]
        and f["stats"]["bucket_s"][0] < 600 * 20
        and f["stats"]["bucket_s"][1] >= 600 * 10
    }
    opened = {p.removeprefix("file://") for p in out.inputFiles()}
    assert opened == want and 0 < len(want) < len(snap["files"])

    # empty prune is a typed empty result, not an exception
    assert read_tier(spark, cat, "tier_x", sources=["zzz"]).count() == 0


def test_incremental_minhash_equals_from_scratch(spark, docs):
    """Ingest-batch dedup against a committed signature index must
    equal the from-scratch candidate list restricted to pairs that
    involve at least one new doc — including through a parquet
    round-trip of the index (the committed-table flow)."""
    import tempfile

    from pyreshaper_spark.functions.xhash import h32

    is_new = F.pmod(h32(F.col("doc_id").cast("string")), F.lit(10)) < 3
    old, new = docs.filter(~is_new), docs.filter(is_new)
    assert new.count() > 0 and old.count() > 0

    with tempfile.TemporaryDirectory() as tmp:
        dedup.signature_index(old).write.parquet(f"{tmp}/idx")
        index = spark.read.parquet(f"{tmp}/idx")
        got = rows_set(dedup.incremental_candidates(new, index))

    full = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = {
        t
        for t in rows_set(full)
        if t[0] in {str(i) for i in new_ids}
        or t[1] in {str(i) for i in new_ids}
    }
    assert got == want and len(got) > 0
