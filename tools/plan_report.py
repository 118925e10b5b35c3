"""Physical-plan verification → PLANS.md.

Captures `.explain("formatted")` for the engine's hot paths and checks
the plan properties that matter at 100 TB:

* tier-0 aggregation scan reads ONLY (source, n_tok[, event_s]) —
  column pruning must reach the parquet ReadSchema (tokens NEVER
  enters the aggregate shuffle);
* partial + final hash aggregation (map-side combine) present;
* gap-fill join and metadata joins broadcast the small side;
* the encode path has exactly ONE exchange (the hash repartition on
  the group key) — the mapInArrow encoder adds no shuffle;
* the delete's victim ids and keys are JVM local relations, not RDDs
  of pickled rows (no Python task per job that reads them), and its
  tier fix reads one cached head instead of rescanning the input;
* per-source, per-window reads of tier tables prune files on the
  manifest's source/bucket_s stats and push both predicates into the
  parquet scan;
* a realtime read is one parquet scan over the tier file and the
  staged aggregate of the pending files — no union, no raw-input scan.

Run: python tools/plan_report.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


#: run-to-run ids in plan text, normalized before any truncation so
#: PLANS.md changes only when a plan does
_PLAN_IDS = re.compile(r"(#|plan_id=|RDD\[|lambda [a-z]+_)\d+")
#: written file names (fixed length, so they do not move a truncation);
#: normalized only in PLANS.md, because checks match pending file names
_PART_FILE = re.compile(r"part-\d+-[0-9a-f-]{36}")
#: staged realtime tail directories (keyed by pending-file mtimes)
_TAIL_KEY = re.compile(r"(/_realtime/)[0-9a-f]{32}")
#: plan nodes that run Python workers
_PYTHON_NODE = re.compile(r"MapInArrow|MapInPandas|EvalPython")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return _PLAN_IDS.sub(r"\1x", buf.getvalue())


def main() -> None:
    from pyspark.sql import functions as F

    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.operators.encode import encode_series_table
    from pyreshaper_spark.operators.gapfill import gapfill_locf
    from pyreshaper_spark.operators.rollup import rollup_all_tiers
    from pyreshaper_spark.operators.transpose import transpose_to_series
    from pyreshaper_spark.session import get_spark

    spark = get_spark("plan-report", master="local[4]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"
    seq_path = "/tmp/plan_report_seq"
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        sequences_df(spark, sf).write.mode("overwrite").parquet(seq_path)
    seq = spark.read.parquet(seq_path)

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    # 1. tier-0 aggregate
    tier0 = rollup_all_tiers(seq, [60])[60]
    p = plan_of(tier0)
    # codegen subtrees are only visible pre-execution with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    cg = plan_of(rollup_all_tiers(seq, [60])[60], "codegen")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sections.append((
        "Tier-0 continuous aggregate",
        p,
        [
            ("column pruning: tokens absent from scan ReadSchema",
             "tokens" not in p.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p else False),
            ("partial+final hash aggregate",
             p.count("HashAggregate") >= 2),
            ("whole-stage codegen subtrees generated",
             "WholeStageCodegen subtrees" in cg and "Found 0" not in cg),
        ],
    ))

    # 1b. fused pipeline head — one scan for validate + meta + tier 0
    from pyreshaper_spark.operators.rollup import head_aggregate

    head = head_aggregate(seq, 60)
    p = plan_of(head)
    rs = p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else ""
    id_scan = seq.agg(
        F.count("*").alias("n"),
        F.sum(F.col("doc_id").isNull().cast("long")).alias("null_ids"),
        F.count_distinct(F.xxhash64("doc_id")).alias("n_hashes"),
    )
    p_id = plan_of(id_scan)
    rs_id = (
        p_id.split("ReadSchema")[1].split("\n")[0]
        if "ReadSchema" in p_id else ""
    )
    sections.append((
        "Fused pipeline head (validate + meta + tier-0, one scan)",
        p + "\n\n-- doc_id uniqueness scan (concurrent thread) --\n" + p_id,
        [
            ("head ReadSchema identical to plain tier-0 (no tokens, "
             "no doc_id — validation counters ride free)",
             bool(rs) and "tokens" not in rs and "doc_id" not in rs
             and "n_tok" in rs and "event_s" in rs),
            ("single scan: exactly one parquet Scan node",
             p.count("Scan parquet") // 2 == 1),
            ("partial+final hash aggregate",
             p.count("HashAggregate") >= 2),
            ("uniqueness scan reads ONLY doc_id",
             bool(rs_id) and "doc_id" in rs_id and "tokens" not in rs_id
             and "source" not in rs_id and "n_tok" not in rs_id),
        ],
    ))

    # 2. gap-fill + LOCF
    filled = gapfill_locf(tier0, 60)
    p = plan_of(filled)
    sections.append((
        "Gap-fill spine join + LOCF window",
        p,
        [
            ("spine join is present (left outer)",
             "LeftOuter" in p or "left_outer" in p),
            ("LOCF window present", "Window" in p),
        ],
    ))

    # 3. encode path — exactly one exchange
    series = transpose_to_series(seq, nsalt=4, pack=True)
    enc = encode_series_table(series)
    p = plan_of(enc)
    # formatted mode lists each node twice (tree + detail section)
    n_exchange = p.count("Exchange") // 2
    sections.append((
        "Salted transpose + Gorilla encode (packed)",
        p,
        [
            ("exactly one exchange (hash repartition, no groupBy "
             f"re-shuffle) — found {n_exchange}", n_exchange == 1),
            ("single hash partitioning on the group key (no range "
             "SAMPLING pass — that would execute the pack stage twice)",
             "hashpartitioning(source" in p
             and "rangepartitioning" not in p.lower()),
            ("two Python stages (pack + encode), both Arrow",
             p.count("MapInArrow") // 2 == 2),
        ],
    ))

    # 4. broadcast metadata join
    meta = seq.groupBy("source").agg(F.count("*").alias("n_docs"))
    joined = tier0.join(F.broadcast(meta), "source")
    p = plan_of(joined)
    sections.append((
        "Metadata replication (broadcast join)",
        p,
        [("broadcast hash join chosen", "BroadcastHashJoin" in p)],
    ))

    docs = spark.read.parquet(f"{sf}/documents.parquet")

    def no_cartesian(p: str) -> bool:
        return "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    # 6. tier analytics (round-2 additions)
    from pyreshaper_spark.operators.gapfill import rate_delta
    from pyreshaper_spark.operators.rollup import bucket_percentiles

    p_rate = plan_of(
        rate_delta(tier0.select("source", "bucket_s", "sum_n_tok"))
    )
    p_pct = plan_of(bucket_percentiles(seq, 3600))
    sections.append((
        "Rate window, percentile rollup",
        "\n".join([
            "--- rate_delta ---", p_rate[:1200],
            "--- bucket_percentiles ---", p_pct[:1200],
        ]),
        [
            ("rate delta: single window, no extra exchange beyond its "
             "partitionBy", p_rate.count("Window") // 2 <= 1),
            ("percentile rollup: tokens pruned from scan",
             "tokens" not in p_pct.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_pct else False),
        ],
    ))

    # 7. OHLC cascade / histogram / NDV / TWA (round-2 additions)
    from pyreshaper_spark.operators.gapfill import time_weighted
    from pyreshaper_spark.operators.rollup import (
        bucket_histogram,
        histogram_cascade,
        ohlc_cascade,
        rollup_ohlc,
    )

    ohlc1h = ohlc_cascade(ohlc_cascade(rollup_ohlc(seq, 60), 600), 3600)
    p_ohlc = plan_of(ohlc1h)
    p_hist = plan_of(histogram_cascade(bucket_histogram(seq, 600, 25), 3600, 50))
    p_twa = plan_of(
        time_weighted(
            rollup_all_tiers(seq, [600])[600].select(
                "source", "bucket_s", "sum_n_tok"
            ),
            600, 3600,
        )
    )
    sections.append((
        "OHLC cascade, histogram cascade, time-weighted average",
        "\n".join([
            "--- ohlc 1m→10m→1h ---", p_ohlc[:2200],
            "--- histogram 10m/25 → 1h/50 ---", p_hist[:1500],
            "--- time_weighted 10m→1h ---", p_twa[:1500],
        ]),
        [
            ("ohlc: tokens pruned from scan",
             "tokens" not in p_ohlc.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_ohlc else False),
            ("ohlc cascade: every level partial+final hash agg "
             "(3 levels → ≥6 HashAggregate nodes in tree+detail)",
             p_ohlc.count("HashAggregate") >= 6),
            ("histogram cascade: hash aggregates, no window/sort",
             "HashAggregate" in p_hist and "Window" not in p_hist),
            ("twa: single window then hash agg — exactly one extra "
             "exchange for the coarse grouping",
             p_twa.count("Window") // 2 == 1),
        ],
    ))

    # 8. M4 cascade, cumulative, token vocab, correlation (round-2 cont.)
    from pyreshaper_spark.operators.correlate import source_corr_moments
    from pyreshaper_spark.operators.rollup import (
        cumulative_tier,
        m4_cascade,
        rollup_m4,
    )
    from pyreshaper_spark.operators.vocab import (
        explode_tokens,
        token_topk,
        vocab_growth,
    )

    m4_1h = m4_cascade(m4_cascade(rollup_m4(seq, 60), 600), 3600)
    p_m4 = plan_of(m4_1h)
    p_cum = plan_of(cumulative_tier(rollup_all_tiers(seq, [3600])[3600]))
    p_topk = plan_of(token_topk(explode_tokens(seq), 3600, 5))
    p_vg = plan_of(vocab_growth(explode_tokens(seq), 3600))
    p_corr = plan_of(
        source_corr_moments(rollup_all_tiers(seq, [3600])[3600])
    )
    sections.append((
        "M4 cascade, cumulative totals, token vocab, correlation moments",
        "\n".join([
            "--- m4 1m→10m→1h ---", p_m4[:2000],
            "--- cumulative_tier ---", p_cum[:1200],
            "--- token_topk (exploded stream) ---", p_topk[:2000],
            "--- vocab_growth ---", p_vg[:1200],
            "--- source_corr_moments ---", p_corr[:1500],
        ]),
        [
            ("m4: tokens pruned from scan",
             "tokens" not in p_m4.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_m4 else False),
            ("m4 cascade: partial+final hash agg at every level",
             p_m4.count("HashAggregate") >= 6),
            ("cumulative: single per-source window over the tier",
             p_cum.count("Window") // 2 == 1),
            ("token topk: explode collapsed by partial agg BEFORE any "
             "exchange (first hashpartitioning keyed on the agg keys)",
             "Generate" in p_topk and p_topk.count("HashAggregate") >= 2
             and "token" in p_topk.split(
                 "Arguments: hashpartitioning", 1
             )[-1].split("\n")[0]),
            ("token topk: partial top-k pushed below the window exchange "
             "(WindowGroupLimit)", "WindowGroupLimit" in p_topk),
            ("vocab growth: two aggregates + one running-sum window",
             p_vg.count("HashAggregate") >= 4
             and p_vg.count("Window") // 2 == 1),
            ("corr moments: equi-join on bucket_s, no cartesian",
             no_cartesian(p_corr)
             and ("SortMergeJoin [bucket_s" in p_corr
                  or "HashJoin" in p_corr)),
        ],
    ))

    # 9. HLL sketch cascade + EWMA window
    from pyreshaper_spark.operators.gapfill import ewma_binary
    from pyreshaper_spark.operators.rollup import (
        ndv_sketch_cascade,
        ndv_sketch_finish,
        ndv_sketch_tier0,
    )

    sk = ndv_sketch_tier0(seq, 60)
    for w in (600, 3600):
        sk = ndv_sketch_cascade(sk, w)
    p_sk = plan_of(ndv_sketch_finish(sk))
    p_ewma = plan_of(
        ewma_binary(
            rollup_all_tiers(seq, [600])[600].select(
                "source", "bucket_s", "sum_n_tok"
            ),
            k=4,
        )
    )
    sections.append((
        "HLL sketch cascade + exact EWMA",
        "\n".join([
            "--- ndv sketch 1m→10m→1h ---", p_sk[:2000],
            "--- ewma_binary k=4 ---", p_ewma[:1200],
        ]),
        [
            ("sketch cascade: tokens pruned from scan",
             "tokens" not in p_sk.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_sk else False),
            ("sketch cascade: partial+final agg at every level (no raw "
             "rescan between tiers — single scan node)",
             p_sk.count("HashAggregate") + p_sk.count("ObjectHashAggregate")
             >= 6 and p_sk.count("Scan parquet") // 2 <= 1),
            ("ewma: all k lags in ONE window, no extra exchange",
             p_ewma.count("Window") // 2 == 1),
        ],
    ))

    # 10. TVD drift
    from pyreshaper_spark.operators.drift import histogram_drift_tvd

    p_drift = plan_of(
        histogram_drift_tvd(bucket_histogram(seq, 86400, 50), 86400)
    )
    sections.append((
        "TVD drift",
        "\n".join(["--- histogram_drift_tvd ---", p_drift[:2000]]),
        [
            ("drift: no window — two hash aggs + keyed joins only",
             "Window" not in p_drift and no_cartesian(p_drift)),
            ("drift: tokens pruned from scan",
             "tokens" not in p_drift.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_drift else False),
        ],
    ))

    from pyreshaper_spark.operators.rollup import bucket_trend
    from pyreshaper_spark.operators.vocab import explode_tokens, token_cms

    tier1h = rollup_all_tiers(seq, [60, 600, 3600])[3600].select(
        "source", "bucket_s",
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
    )
    p_trend = plan_of(bucket_trend(tier1h, 86400, 3600))
    p_cms = plan_of(token_cms(explode_tokens(seq)))
    sections.append((
        "Trend regression, count-min sketch",
        "\n".join([
            "--- bucket_trend(1h tier, 1d) ---", p_trend[:2400],
            "--- token_cms(explode_tokens) ---", p_cms[:2000],
        ]),
        [
            ("trend: no window, no join — hash aggregates only",
             "Window" not in p_trend and no_cartesian(p_trend)),
            ("trend: tokens pruned from the tier scan",
             "tokens" not in p_trend.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_trend else False),
            ("cms: partial+final hash agg collapses the exploded "
             "stream before the exchange (state ≤ depth × width / "
             "partition)",
             p_cms.count("HashAggregate") >= 2
             and "Generate" in p_cms),
        ],
    ))

    from pyreshaper_spark.operators.vocab import bigram_pmi, doc_rarity

    md_seq = seq.select("doc_id", "source", "tokens")
    p_pmi = plan_of(bigram_pmi(md_seq, min_count=2))
    p_rare = plan_of(doc_rarity(md_seq, max_df=2))
    sections.append((
        "Bigram PMI, doc rarity",
        "\n".join([
            "--- bigram_pmi ---", p_pmi[:2200],
            "--- doc_rarity ---", p_rare[:1400],
        ]),
        [
            ("pmi: unigram/total sides broadcast (≥3 broadcast "
             "hash joins), bigram stream aggregated partial+final",
             p_pmi.count("BroadcastHashJoin") >= 3
             and p_pmi.count("HashAggregate") >= 2),
            ("rarity: df table broadcast, no cartesian",
             "BroadcastHashJoin" in p_rare and no_cartesian(p_rare)),
        ],
    ))

    from pyreshaper_spark.operators.correlate import autocorr_moments
    from pyreshaper_spark.operators.rollup import (
        bucket_histogram,
        histogram_quantile,
    )

    p_acf = plan_of(autocorr_moments(tier1h, (3600, 7200)))
    p_hq = plan_of(
        histogram_quantile(bucket_histogram(seq, 3600, 50), 50, 9, 10)
    )
    sections.append((
        "ACF, histogram quantile",
        "\n".join([
            "--- autocorr_moments(1h tier, 2 lags) ---", p_acf[:2000],
            "--- histogram_quantile(hist_1h, p90) ---", p_hq[:2000],
        ]),
        [
            ("acf: ONE equi-join serves every lag (no join per lag, "
             "no cartesian; formatted mode lists each node twice)",
             p_acf.count("SortMergeJoin") + p_acf.count("BroadcastHashJoin")
             + p_acf.count("ShuffledHashJoin") <= 2
             and no_cartesian(p_acf)),
            ("acf: tokens pruned from the tier scan",
             "tokens" not in p_acf.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_acf else False),
            ("hist quantile: windows + argmin agg only — no join, no "
             "cartesian",
             "Join" not in p_hq and no_cartesian(p_hq)),
        ],
    ))

    from pyreshaper_spark.operators.rollup import tier_cube
    from pyreshaper_spark.operators.sampling import (
        mix_quality_budget,
        mix_token_budget,
    )

    p_cube = plan_of(tier_cube(seq, 3600))
    p_mix = plan_of(
        mix_token_budget(
            seq.select("doc_id", "source", F.col("n_tok").cast("long")
                       .alias("n_tok")),
            {"src0": 5000},
        )
    )
    p_qmix = plan_of(
        mix_quality_budget(
            seq.select("doc_id", "source", "tokens"), {"src0": 5000},
            max_df=2,
        )
    )
    sections.append((
        "CUBE rollup, token-budget mixture",
        "\n".join([
            "--- tier_cube(1h) ---", p_cube[:2000],
            "--- mix_token_budget ---", p_mix[:1400],
            "--- mix_quality_budget ---", p_qmix[:1800],
        ]),
        [
            ("cube: single Expand feeding partial+final hash agg — one "
             "aggregation serves all four grouping sets",
             "Expand" in p_cube and p_cube.count("HashAggregate") >= 2
             and no_cartesian(p_cube)),
            ("cube: tokens pruned from the scan",
             "tokens" not in p_cube.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_cube else False),
            ("mixture: rank + running token sum ride ONE source-keyed "
             "exchange (two Window frames, zero extra shuffles), no join",
             p_mix.count("hashpartitioning(source") == 1
             and "Join" not in p_mix),
            ("quality mixture: doc-frequency table BROADCAST back onto "
             "the token stream (its only join), source/n_tok ride the "
             "per-doc re-aggregate (no doc-keyed big-big join), ranking "
             "on ONE source-keyed exchange, no cartesian",
             p_qmix.count("BroadcastHashJoin") >= 1
             and p_qmix.count("SortMergeJoin")
             + p_qmix.count("ShuffledHashJoin") == 0
             and p_qmix.count("hashpartitioning(source") == 1
             and no_cartesian(p_qmix)),
        ],
    ))

    # 15. delete/restate repair shapes
    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.operators.transpose import with_salt
    from pyreshaper_spark.operators.rollup import head_aggregate
    from pyreshaper_spark.plans.delete import (
        _fix_buckets,
        _reencode,
        _resolve_ids,
        _victim_keys,
    )

    ids = _resolve_ids(
        spark, [r[0] for r in seq.select("doc_id").limit(2).collect()]
    )
    victims = seq.join(F.broadcast(ids), "doc_id", "left_semi")
    positions = [
        tuple(r)
        for r in with_salt(victims, 4)
        .select("source", "salt", "event_s")
        .collect()
    ]
    sources, chunk_keys, (bad,) = _victim_keys(spark, positions, [600])
    p_keys = plan_of(chunk_keys) + plan_of(bad)
    rem = seq.join(F.broadcast(ids), "doc_id", "left_anti")
    rem_head = head_aggregate(
        rem.filter(F.col("source").isin(sources)), 60
    ).persist()
    p_head = plan_of(rem_head)
    rs_head = (
        p_head.split("ReadSchema")[1].split("\n")[0]
        if "ReadSchema" in p_head else ""
    )
    p_fix = plan_of(_fix_buckets(rem_head, bad, 600))
    p_reenc = plan_of(_reencode(rem, chunk_keys, 4))
    rem_head.unpersist()

    # restate's victim-chunk decode: chunks named by series_enc metadata
    # doc_ids, decode bounded to those chunks via broadcast semi-joins
    enc_tbl = encode_series_table(
        transpose_to_series(seq, nsalt=4, pack=True)
    )
    old_chunks = (
        enc_tbl.select("source", "salt", F.explode("doc_ids").alias("doc_id"))
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .select("source", "salt")
        .distinct()
    )
    p_dec = plan_of(
        decode_series_table(
            enc_tbl.join(
                F.broadcast(old_chunks), ["source", "salt"], "left_semi"
            )
        )
    )
    sections.append((
        "Repair path (delete/restate)",
        "\n".join([
            "--- victim keys: chunk keys + 10m victim buckets ---",
            p_keys[:440],
            "--- repair head (affected sources' remaining rows) ---",
            p_head[:760],
            "--- tier fix (10m victim buckets from the head) ---",
            p_fix[:900],
            "--- victim-chunk re-encode ---", p_reenc[:880],
            "--- restate victim-chunk decode ---", p_dec[:560],
        ]),
        [
            ("victim keys: LocalTableScan, no Exchange over them, no "
             "Scan ExistingRDD (no shuffle, no Python task)",
             p_keys.count("LocalTableScan") >= 2
             and "Exchange" not in p_keys and "ExistingRDD" not in p_keys),
            ("tier fix: reads the persisted head (InMemoryTableScan) and "
             "never scans the input a second time (its one parquet scan "
             "is the cached head's)",
             "InMemoryTableScan" in p_fix
             and p_fix.count("Scan parquet") // 2 == 1),
            ("repair head: tokens pruned from the raw scan ReadSchema",
             bool(rs_head) and "tokens" not in rs_head),
            ("victim-chunk re-encode: exactly one Python map node (no "
             "pre-shuffle pack stage)",
             len(_PYTHON_NODE.findall(p_reenc)) // 2 == 1),
            ("victim-chunk decode: chunk probe is broadcast semi-join; "
             "no cartesian anywhere",
             p_dec.count("LeftSemi") >= 2 and "BroadcastHashJoin" in p_dec
             and no_cartesian(p_dec)),
        ],
    ))

    # 16. round-3 analytics: asof forward+tolerance, inter-arrival, CUSUM
    from pyreshaper_spark.operators.asof import asof_join
    from pyreshaper_spark.operators.gapfill import cusum_detect, interarrival

    t10 = rollup_all_tiers(seq, [600])[600].select(
        "source", F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
    )
    t1h_c = rollup_all_tiers(seq, [3600])[3600].select(
        "source", F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
    )
    p_asof = plan_of(
        asof_join(t10, t1h_c, ("sum_n_tok",),
                  direction="forward", tolerance_s=3600)
    )
    p_asof_n = plan_of(
        asof_join(t10, t1h_c, ("sum_n_tok",),
                  direction="nearest", tolerance_s=1800)
    )
    p_ia = plan_of(interarrival(seq, 3600))
    p_cusum = plan_of(cusum_detect(t1h_c, h=100))
    sections.append((
        "As-of forward+tolerance, inter-arrival, CUSUM",
        "\n".join([
            "--- asof_join(forward, tolerance) ---", p_asof[:2000],
            "--- interarrival(1h) ---", p_ia[:1600],
            "--- cusum_detect(1h) ---", p_cusum[:1600],
        ]),
        [
            ("asof fwd+tol: union-sort-window — NO join at all, one "
             "window family",
             "Join" not in p_asof and "Window" in p_asof),
            ("asof nearest: both carries join-free over ONE "
             "source-only exchange (the other exchanges are the two "
             "input tier aggs)",
             "Join" not in p_asof_n and "Window" in p_asof_n
             and len(re.findall(
                 r"hashpartitioning\(source#x, \d+\)", p_asof_n)) == 1),
            ("interarrival: tokens pruned from the raw scan",
             "tokens" not in p_ia.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_ia else False),
            ("interarrival: one lag window + partial/final hash agg",
             "Window" in p_ia and p_ia.count("HashAggregate") >= 2),
            ("cusum: windows only — no join, no cartesian, ONE "
             "source-keyed exchange",
             "Join" not in p_cusum and no_cartesian(p_cusum)
             and p_cusum.count("hashpartitioning(source") <= 2),
            ("k-per-source sample: rank predicate pushed below the "
             "window exchange (WindowGroupLimit — each map task "
             "forwards ≤k rows per source)",
             "WindowGroupLimit" in plan_of(
                 __import__(
                     "pyreshaper_spark.operators.sampling",
                     fromlist=["sample_k_per_source"],
                 ).sample_k_per_source(docs, 15)
             )),
        ],
    ))

    # 17. round-3 analytics batch 2: multiburn / LTOB / mode / gini
    from pyreshaper_spark.operators.rollup import (
        bucket_mode,
        ltob_downsample,
        slo_multiburn,
        source_share,
    )
    from pyreshaper_spark.operators.vocab import explode_tokens, token_gini

    t10v = rollup_all_tiers(seq, [600])[600].select(
        "source", F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
    )
    p_mb = plan_of(slo_multiburn(t1h_c, 3600, 60, short_min=2, long_min=4))
    p_ltob = plan_of(ltob_downsample(t10v, 3600))
    p_mode = plan_of(bucket_mode(seq, 3600))
    p_gini = plan_of(token_gini(explode_tokens(seq), 3600))
    p_share = plan_of(source_share(t1h_c))
    sections.append((
        "Multi-window burn alert, LTOB downsample, mode, Gini, share",
        "\n".join([
            "--- slo_multiburn(1h) ---", p_mb[:1600],
            "--- ltob_downsample(10m→1h) ---", p_ltob[:1600],
            "--- bucket_mode(1h) ---", p_mode[:1200],
            "--- token_gini(1h) ---", p_gini[:1200],
            "--- source_share ---", p_share[:800],
        ]),
        [
            ("multiburn: both RANGE frames share ONE source-keyed sort "
             "on top of the tier agg — ≤2 key exchanges total, no join",
             "Join" not in p_mb
             and p_mb.count("hashpartitioning(source") <= 2),
            ("ltob: lag/lead sort + per-bucket top-1 over the tier agg "
             "— ≤3 key exchanges, no join",
             "Join" not in p_ltob
             and p_ltob.count("hashpartitioning(source") <= 3),
            ("mode: partial+final hash agg collapses values BEFORE the "
             "top-1 window (shuffle bounded by distinct values)",
             p_mode.count("HashAggregate") >= 2 and "Window" in p_mode),
            ("gini: exploded stream collapses map-side (partial agg "
             "below the first exchange), rank window + final agg above",
             p_gini.count("HashAggregate") >= 4 and "Window" in p_gini
             and no_cartesian(p_gini)),
            ("share: one bucket-keyed window exchange, no join",
             "Join" not in p_share),
        ],
    ))

    # 18. interval (range) join — chunk-bucketed equi-join
    from pyreshaper_spark.operators.gapfill import uptime_islands
    from pyreshaper_spark.operators.rangejoin import interval_join

    wins = uptime_islands(
        t1h_c.filter(F.col("sum_n_tok") > 60), 3600
    ).select(
        "source", F.col("up_start").alias("start_s"),
        F.col("up_end").alias("end_s"),
    )
    p_iv = plan_of(
        interval_join(
            seq.select("doc_id", "source", "event_s"), wins,
            key="source", point_ts="event_s",
            start_col="start_s", end_col="end_s", chunk_s=3600,
            end_exclusive=True,
        )
    )
    sections.append((
        "Interval join (grid-bucketed equi-join)",
        p_iv,
        [
            ("equi-join on (source, cell) — no nested-loop, no "
             "cartesian (the naive range predicate's plan)",
             no_cartesian(p_iv) and "NestedLoop" not in p_iv
             and "Join" in p_iv),
            ("fact-side scan pruned to the join columns (tokens never "
             "read)",
             "tokens" not in p_iv.split("ReadSchema")[1].split("\n")[0]
             if "ReadSchema" in p_iv else False),
        ],
    ))

    # 19. tier-routed + real-time rollup read (sql.read_rollup)
    import shutil

    from pyreshaper_spark.config import RunConfig, TierSpec
    from pyreshaper_spark.plans.pipeline import run_pipeline
    from pyreshaper_spark.sources.catalog import get_catalog
    from pyreshaper_spark.sql import (
        REALTIME_DIR,
        pending_tail,
        read_rollup,
        tail_aggregate,
    )

    # ALWAYS rebuild (as §20): a warehouse left by older code would make
    # these checkmarks meaningless. Build, then land ONE pending file.
    rt_root = "/tmp/plan_report_rt"
    shutil.rmtree(rt_root, ignore_errors=True)
    rt_in = os.path.join(rt_root, "in")
    seq.write.parquet(rt_in)
    rt_cfg = RunConfig(
        input_path=rt_in, output_path=os.path.join(rt_root, "out"),
        tiers=(TierSpec("1m", 60), TierSpec("10m", 600)),
        nsalt=1, write_mode="append",
    )
    run_pipeline(spark, rt_cfg, os.path.join(rt_root, "ck.json"))
    seq.limit(50).withColumn(
        "doc_id", F.concat("doc_id", F.lit("-late"))
    ).coalesce(1).write.mode("append").parquet(rt_in)
    rt_cat = get_catalog(rt_cfg.output_path)
    led, pending, _ = pending_tail(rt_cfg, rt_cat)
    p_route = plan_of(read_rollup(spark, rt_cfg, 1800))
    # one source, one day: pruned on the tier table's manifest stats
    rt_src = seq.agg(F.min("source")).first()[0]
    rt_t0 = seq.agg(F.min("event_s")).first()[0] // 1800 * 1800
    p_one = plan_of(read_rollup(
        spark, rt_cfg, 1800, sources=[rt_src], t_min=rt_t0,
        t_max=rt_t0 + 86400,
    ))
    tier_scan = next(
        seg for seg in p_one.split("\n\n(")
        if "Scan parquet" in seg.split("\n", 1)[0]
    )
    tier_loc = [
        ln for ln in tier_scan.splitlines()
        if ln.strip().startswith("Location:")
    ]
    pushed = [
        ln for ln in tier_scan.splitlines()
        if ln.strip().startswith("PushedFilters:")
    ]
    # the query that stages the pending files' tail (first realtime
    # read of a pending set), then the realtime read over it
    p_stage = plan_of(tail_aggregate(spark, rt_cfg, rt_cat, led, pending))
    stage_schemas = [
        seg.split("\n")[0] for seg in p_stage.split("ReadSchema")[1:]
    ]
    p_rt = plan_of(read_rollup(spark, rt_cfg, 1800, realtime=True))
    # the formatted plan names only a scan's first file; the simple one
    # lists them all, up to this many characters (read when planned)
    max_meta = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        rt_locs = re.findall(r"Location: [^\]]*\]", plan_of(
            read_rollup(spark, rt_cfg, 1800, realtime=True), "simple"
        ))
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", max_meta)
    sections.append((
        "Tier-routed + real-time rollup read",
        "\n".join([
            "--- realtime read ---", p_rt,
            "--- its scan's Location ---", *rt_locs,
            "--- realtime tail staging (once per pending set) ---", p_stage,
            "--- routed one-source, one-day read ---", p_one,
        ]),
        [
            ("routed read scans the 10m tier table (coarsest divisor "
             "of 30m), not raw input",
             "tier_10m" in p_route and rt_in not in p_route),
            ("routed read is one partial+final re-aggregation",
             p_route.count("HashAggregate") >= 2),
            ("routed one-source read: the tier scan lists one file "
             "(one sorted file per tier commit)",
             len(tier_loc) == 1 and "tier_10m" in tier_loc[0]
             and "entries]" not in tier_loc[0]),
            ("routed one-source read: PushedFilters carries the source "
             "and bucket_s predicates",
             len(pushed) == 1 and "source" in pushed[0]
             and "bucket_s" in pushed[0]),
            ("tail staging scans exactly the one pending file (ledger "
             "set arithmetic, no join on input_file)",
             len(pending) == 1
             and os.path.basename(pending[0]) in p_stage
             and "entries]" not in p_stage  # "[f, ... N entries]"
             and "LeftAnti" not in p_stage),
            ("tail staging pruned — tokens/doc_id never read",
             bool(stage_schemas)
             and all("tokens" not in s and "doc_id" not in s
                     for s in stage_schemas)),
            ("realtime read is ONE parquet scan whose Location lists the "
             "tier file and the staged tail",
             p_rt.count("Location:") == 1 and len(rt_locs) == 1
             and "(2 paths)" in rt_locs[0] and "tier_10m" in rt_locs[0]
             and f"/{REALTIME_DIR}/" in rt_locs[0]),
            ("realtime read: no Union, no scan of the input directory, "
             "no second aggregation",
             "Union" not in p_rt and rt_in not in p_rt
             and p_rt.count("HashAggregate") == p_route.count(
                 "HashAggregate")),
            ("no scan of series_enc anywhere in the realtime plan",
             "series_enc" not in p_rt),
            ("no cartesian/nested-loop anywhere in the realtime plan",
             no_cartesian(p_rt) and "NestedLoop" not in p_rt),
        ],
    ))

    # 20. merge-on-read equality-delete read
    from pyreshaper_spark.sources.iceberglite import IcebergLite

    # ALWAYS rebuild: a stale /tmp table written by an older code
    # version would make these checkmarks meaningless
    mor_root = "/tmp/plan_report_mor"
    shutil.rmtree(mor_root, ignore_errors=True)
    mor = IcebergLite(mor_root)
    mor.append(
        "t",
        spark.createDataFrame(
            [(f"d{i}", "s0", i) for i in range(20)],
            "doc_id string, source string, n_tok long",
        ),
    )
    mor.delete_rows_mor(
        spark, "t",
        spark.createDataFrame([("d1",)], "doc_id string"), ("doc_id",),
    )
    p_mor = plan_of(mor.read(spark, "t"))
    mat_root = "/tmp/plan_report_mor_mat"
    shutil.rmtree(mat_root, ignore_errors=True)
    mat = IcebergLite(mat_root)
    shutil.copytree(os.path.join(mor_root, "t"), os.path.join(mat_root, "t"))
    mat.compact(spark, "t", min_files=1)
    p_mat = plan_of(mat.read(spark, "t"))
    sections.append((
        "Merge-on-read equality-delete read",
        p_mor,
        [
            ("delete keys applied as a BROADCAST anti-join (the data "
             "side never shuffles for the delete)",
             "BroadcastHashJoin" in p_mor and "LeftAnti" in p_mor),
            ("no sort-merge join / exchange introduced by the delete",
             "SortMergeJoin" not in p_mor
             and "Exchange hashpartitioning" not in p_mor),
            ("after compaction the delete is materialized — read plan "
             "carries NO residual anti-join",
             "LeftAnti" not in p_mat and "Join" not in p_mat),
        ],
    ))

    # 21. cross-source mixture divergence (token TVD)
    from pyreshaper_spark.operators.vocab import source_token_tvd, token_stream

    p_tvd = plan_of(source_token_tvd(token_stream(docs)))
    sections.append((
        "Cross-source mixture divergence",
        p_tvd,
        [
            ("TVD: (source, token) count is a partial+final hash agg "
             "(exploded stream collapses map-side, bounded by |S| x V)",
             p_tvd.count("HashAggregate") >= 4),
            ("TVD: source totals join is broadcast; no CartesianProduct "
             "anywhere (the |S| x |S| grid rides a broadcast)",
             "BroadcastHashJoin" in p_tvd
             and "CartesianProduct" not in p_tvd),
        ],
    ))

    # 22. LTTB (centroid-anchored) downsample + SAX symbolization
    from pyreshaper_spark.operators.rollup import lttb_downsample
    from pyreshaper_spark.operators.symbolic import sax_words

    p_lttb = plan_of(lttb_downsample(t10v, 3600))
    p_sax = plan_of(sax_words(t1h_c, 86400))
    sections.append((
        "LTTB downsample + SAX symbolization",
        "\n".join([
            "--- lttb_downsample(10m→1h) ---", p_lttb[:2000],
            "--- sax_words(1h→1d) ---", p_sax[:2000],
        ]),
        [
            ("lttb: centroid table is a partial+final hash agg of the "
             "tier (shuffle bounded by coarse buckets)",
             p_lttb.count("HashAggregate") >= 2),
            ("lttb: points join neighbor-centroids on (source, cb) — "
             "equi-join only, no nested loop / cartesian",
             no_cartesian(p_lttb)),
            ("sax: breakpoint table rides a broadcast HASH equi-join "
             "(alphabet-1 rows per source), no nested loop",
             "BroadcastHashJoin" in p_sax and no_cartesian(p_sax)),
            ("sax: symbol agg is partial+final; word concat is a "
             "bounded per-(source, word-bucket) aggregate",
             p_sax.count("HashAggregate") >= 2
             and ("ObjectHashAggregate" in p_sax
                  or "SortAggregate" in p_sax)),
        ],
    ))

    # 23. token burst + Simpson diversity + top-N source collapse
    from pyreshaper_spark.operators.rollup import top_sources
    from pyreshaper_spark.operators.vocab import (
        token_burst,
        token_simpson,
        token_stream,
    )

    toks = token_stream(docs)
    p_burst = plan_of(token_burst(toks, 3600, 3, 2, 3))
    p_simp = plan_of(token_simpson(toks, 3600))
    p_topn = plan_of(top_sources(t1h_c, 2))
    sections.append((
        "Token burst, Simpson diversity, top-N source collapse",
        "\n".join([
            "--- token_burst(1h) ---", p_burst[:2000],
            "--- token_simpson(1h) ---", p_simp[:1200],
            "--- top_sources(1h, k=2) ---", p_topn[:1200],
        ]),
        [
            ("burst: the exploded stream collapses in ONE partial+final "
             "(bucket, token) agg; totals are re-aggregations of it",
             p_burst.count("HashAggregate") >= 6),
            ("burst: totals join back on equi-keys; 1-row grand total "
             "rides a broadcast; no CartesianProduct",
             "CartesianProduct" not in p_burst
             and "Broadcast" in p_burst),
            ("simpson: two stacked partial+final hash aggs, no join",
             p_simp.count("HashAggregate") >= 4
             and "Join" not in p_simp),
            ("top-N: one per-bucket rank window + one hash agg over the "
             "tiny tier, no join",
             "Window" in p_topn and "Join" not in p_topn),
        ],
    ))

    from pyreshaper_spark.operators.rollup import theilsen
    from pyreshaper_spark.operators.symbolic import sax_motifs
    from pyreshaper_spark.operators.vocab import oov_rate

    p_ts = plan_of(theilsen(t1h_c, 86400, 3600))
    p_oov = plan_of(oov_rate(toks, 3600, 200))
    p_motif = plan_of(sax_motifs(t1h_c, m=4))
    sections.append((
        "Theil–Sen, OOV rate, SAX motifs",
        "\n".join([
            "--- theilsen(1d over 1h) ---", p_ts[:1600],
            "--- oov_rate(1h, top 200) ---", p_oov[:1600],
            "--- sax_motifs(m=4) ---", p_motif[:1200],
        ]),
        [
            ("theilsen: pair fan-out is an EQUI self-join on (source, "
             "coarse bucket) — constant per-group width, no cartesian",
             no_cartesian(p_ts) and "Join" in p_ts),
            ("theilsen: median via one partial-input hash agg "
             "(collect_list is group-bounded), no window",
             "Window" not in p_ts and "HashAggregate" in p_ts),
            ("oov: vocabulary head picked by TakeOrderedAndProject "
             "(distributed top-K), never a global rank window",
             "TakeOrderedAndProject" in p_oov and "Window" not in p_oov),
            ("oov: vocab set joins back as a BROADCAST; bucket agg is "
             "partial+final",
             "BroadcastHashJoin" in p_oov
             and p_oov.count("HashAggregate") >= 4),
            ("motifs: subwords from ONE source-keyed sort window "
             "(m-1 leads share it) + partial+final count agg — no "
             "self-join on the symbol stream",
             "Window" in p_motif and no_cartesian(p_motif)),
        ],
    ))

    from pyreshaper_spark.operators.correlate import source_ccf_moments
    from pyreshaper_spark.operators.gapfill import seasonal_decompose

    p_ccf = plan_of(source_ccf_moments(t1h_c, 3, 3600))
    p_dec2 = plan_of(seasonal_decompose(t10, 600, 6, value_col="cnt"))
    sections.append((
        "CCF (all lags one pass), seasonal decomposition",
        "\n".join([
            "--- source_ccf_moments(lags 0..3) ---", p_ccf[:1800],
            "--- seasonal_decompose(p=6) ---", p_dec2[:1400],
        ]),
        [
            ("ccf: lag fan-out is a map-side explode (constant "
             "max_lag+1), pairing is a bucket EQUI-join, no cartesian",
             no_cartesian(p_ccf) and "Generate" in p_ccf),
            ("ccf: one partial+final moment agg after the join",
             p_ccf.count("HashAggregate") >= 2),
            ("decompose: BOTH MA frames ride ONE source-keyed sort "
             "(a single exchange feeds the window), then one "
             "partial+final phase agg — no join",
             "Join" not in p_dec2
             and p_dec2.count("hashpartitioning(source") <= 2
             and p_dec2.count("HashAggregate") >= 2),
            ("hod band: ONE partial+final hash agg keyed (source, "
             "hod) — no window, no join",
             (lambda p: "Window" not in p and "Join" not in p
              and p.count("HashAggregate") >= 2)(
                 plan_of(__import__(
                     "pyreshaper_spark.operators.rollup",
                     fromlist=["hod_band"]).hod_band(t1h_c)))),
            ("skipgram: pair generation is map-side codegen (Generate "
             "over the slice-transform) — NO self-join; only shuffle "
             "is the count agg",
             (lambda p: "Generate" in p and "Join" not in p
              and p.count("HashAggregate") >= 2)(
                 plan_of(__import__(
                     "pyreshaper_spark.operators.vocab",
                     fromlist=["tok_skipgram"]).tok_skipgram(
                         seq, 3)))),
            ("hod anomaly: the O(sources×24) band rides a BROADCAST "
             "equi-join back onto the tier — no shuffle join, no "
             "cartesian",
             (lambda p: "BroadcastHashJoin" in p and no_cartesian(p)
              and "SortMergeJoin" not in p)(
                 plan_of(__import__(
                     "pyreshaper_spark.operators.rollup",
                     fromlist=["hod_anomaly"]).hod_anomaly(t1h_c)))),
        ],
    ))

    # 21. round-3 session-9 additions: period-similarity search,
    # rolling slope / Holt, ETA, vocab Jaccard
    from pyreshaper_spark.operators.forecast import holt_backtest
    from pyreshaper_spark.operators.gapfill import rolling_slope
    from pyreshaper_spark.operators.rollup import eta_threshold
    from pyreshaper_spark.operators.seriessim import day_profile_knn
    from pyreshaper_spark.operators.vocab import vocab_jaccard

    docs_df = spark.read.parquet(f"{sf}/documents.parquet")
    p_knn = plan_of(day_profile_knn(t1h_c, k=3))
    p_slope = plan_of(rolling_slope(t10, k=6, value_col="cnt"))
    p_holt = plan_of(holt_backtest(t10, k=6, value_col="cnt"))
    p_eta = plan_of(eta_threshold(t1h_c, 86400, 3600, 10_000))
    from pyreshaper_spark.operators.vocab import token_stream

    p_vj = plan_of(vocab_jaccard(token_stream(docs_df)))
    sections.append((
        "Period-similarity kNN, rolling slope / Holt, ETA, vocab Jaccard",
        "\n".join([
            "--- day_profile_knn(k=3) ---", p_knn[:1600],
            "--- rolling_slope(k=6) ---", p_slope[:900],
            "--- holt_backtest(k=6) ---", p_holt[:900],
            "--- eta_threshold(1d/1h) ---", p_eta[:900],
            "--- vocab_jaccard ---", p_vj[:1200],
        ]),
        [
            ("similar-days: cross term and pair universe are EQUI "
             "joins on (source, slot)/(source) — no cartesian; top-k "
             "is a PARTITIONED window (WindowGroupLimit pushdown)",
             no_cartesian(p_knn) and "WindowGroupLimit" in p_knn),
            ("rolling slope: ONE source-keyed sort window, no join",
             "Join" not in p_slope
             and p_slope.count("hashpartitioning(source") <= 2),
            ("holt: ONE source-keyed sort window, no join",
             "Join" not in p_holt
             and p_holt.count("hashpartitioning(source") <= 2),
            ("eta: ONE partial+final hash agg keyed (source, coarse "
             "bucket) — no window, no join",
             "Window" not in p_eta and "Join" not in p_eta
             and p_eta.count("HashAggregate") >= 2),
            ("vocab jaccard: intersection is an EQUI-join on token "
             "over the DISTINCT (vocabulary-bounded) set; the only "
             "non-equi join is the |sources|-row size grid",
             "CartesianProduct" not in p_vj
             and p_vj.count("BroadcastNestedLoopJoin") // 2 <= 1
             and p_vj.count("HashAggregate") >= 4),
        ],
    ))

    # 22. data card, hopping windows, DAU/WAU, conversion lag — the
    # one-scan / constant-fan-out shapes
    from pyreshaper_spark.operators.events import (
        events_conversion_lag,
        events_dau_wau,
        events_engagement_hist,
        events_transitions,
    )
    from pyreshaper_spark.operators.rollup import hopping_rollup
    from pyreshaper_spark.operators.text import datacard_by_source

    ev_df = spark.read.parquet(f"{sf}/events.parquet")
    p_card = plan_of(datacard_by_source(docs_df))
    p_hop = plan_of(hopping_rollup(t10, 3600, 600, value_col="cnt"))
    p_dw = plan_of(events_dau_wau(ev_df))
    p_cl = plan_of(events_conversion_lag(ev_df))
    p_eh = plan_of(events_engagement_hist(ev_df))
    p_tr = plan_of(events_transitions(ev_df))
    sections.append((
        "Data card, hopping windows, DAU/WAU, conversion lag",
        "\n".join([
            "--- datacard_by_source ---", p_card[:1600],
            "--- hopping_rollup(1h/10m) ---", p_hop[:900],
            "--- events_dau_wau ---", p_dw[:1200],
            "--- events_conversion_lag ---", p_cl[:900],
        ]),
        [
            ("data card: ONE parquet scan feeds the whole panel "
             "(projection + windows + agg — no join, no second scan)",
             p_card.count("Scan parquet") // 2 == 1
             and "Join" not in p_card),
            ("data card: scan ReadSchema carries only doc_id, source, "
             "text (codegen projection prunes the rest)",
             (lambda rs: bool(rs) and "text" in rs and "lang" not in rs
              and "n_chars" not in rs)(
                 p_card.split("ReadSchema")[1].split("\n")[0]
                 if "ReadSchema" in p_card else "")),
            ("hopping: constant fan-out is a map-side Generate (no "
             "self-join, no spine) + ONE partial+final hash agg",
             "Generate" in p_hop and "Join" not in p_hop
             and p_hop.count("HashAggregate") >= 2),
            ("dau/wau: fan-out runs on the DISTINCT (user, day) set "
             "(an agg precedes the Generate), never raw events",
             "Generate" in p_dw and p_dw.count("HashAggregate") >= 4
             and no_cartesian(p_dw)),
            ("conversion lag: user-keyed equi-joins only, no "
             "cartesian",
             no_cartesian(p_cl)),
            ("engagement hist: pure hash-agg pipeline over the "
             "DISTINCT (user, day) set — no join, no window",
             "Join" not in p_eh and "Window" not in p_eh
             and p_eh.count("HashAggregate") >= 4),
            ("transitions: ONE user-keyed lag window + ONE "
             "partial+final hash agg — no join",
             p_tr.count("Window") // 2 == 1 and "Join" not in p_tr
             and p_tr.count("HashAggregate") >= 2),
        ],
    ))

    # 23. offline changepoint / MK trend
    from pyreshaper_spark.operators.changepoint import (
        amoc_changepoint,
        mann_kendall,
        pettitt,
    )

    p_amoc = plan_of(amoc_changepoint(t1h_c, 86400, 3600))
    p_mk = plan_of(mann_kendall(t1h_c, 86400, 3600))
    p_pet = plan_of(pettitt(t1h_c, 86400, 3600))
    sections.append((
        "AMOC changepoint, Mann-Kendall trend, Pettitt",
        "\n".join([
            "--- amoc_changepoint(1d over 1h) ---", p_amoc[:2000],
            "--- mann_kendall(1d over 1h) ---", p_mk[:1400],
            "--- pettitt(1d over 1h) ---", p_pet[:1400],
        ]),
        [
            ("amoc: candidates from ONE (source, day) sort (prefix-sum "
             "windows share it) — no second exchange before the argmax",
             "Window" in p_amoc),
            ("amoc: exact rational argmax is a LEFT ANTI equi-join on "
             "(source, day) with the cross-multiplied gain as residual "
             "— constant per-group width, no cartesian",
             ("LeftAnti" in p_amoc or "left_anti" in p_amoc)
             and no_cartesian(p_amoc)),
            ("mann-kendall: pair fan-out is an EQUI self-join on "
             "(source, day) — constant per-group width, no cartesian, "
             "no window",
             no_cartesian(p_mk) and "Window" not in p_mk
             and p_mk.count("HashAggregate") >= 2),
            ("pettitt: pair spans explode MAP-SIDE (Generate after the "
             "equi self-join, no range join); argmax window is group-"
             "keyed, no cartesian",
             "Generate" in p_pet and no_cartesian(p_pet)
             and "Window" in p_pet),
        ],
    ))

    # 24. seasonal MK, fixed-target CUSUM
    from pyreshaper_spark.operators.changepoint import (
        seasonal_mann_kendall,
    )
    from pyreshaper_spark.operators.gapfill import cusum_fixed
    from pyreshaper_spark.operators.seriessim import day_discords
    from pyreshaper_spark.operators.vocab import tok_collocations

    p_smk = plan_of(seasonal_mann_kendall(t1h_c, 86400, 3600))
    p_cf = plan_of(cusum_fixed(t1h_c, mu=55, h=120, value_col="sum_n_tok"))
    p_dd = plan_of(day_discords(t1h_c, m=3))
    seq_tok = seq.select("source", "doc_id", "tokens")
    p_col = plan_of(tok_collocations(seq_tok, window=3))
    sections.append((
        "Seasonal Mann-Kendall, fixed CUSUM, discords, collocations",
        "\n".join([
            "--- seasonal_mann_kendall(day period) ---", p_smk[:1600],
            "--- cusum_fixed ---", p_cf[:1200],
            "--- day_discords(m=3) ---", p_dd[:1000],
            "--- tok_collocations(w=3) ---", p_col[:1200],
        ]),
        [
            ("seasonal MK: per-phase pairs via (source, phase) equi "
             "self-join (group width = cycle count), no cartesian, "
             "no window",
             no_cartesian(p_smk) and "Window" not in p_smk),
            ("fixed CUSUM: running sum + running min share ONE "
             "source-keyed sort — a single exchange, no join",
             p_cf.count("Exchange") // 2 <= 2 and "Join" not in p_cf
             and "Window" in p_cf),
            ("discords: top-m rank pushes WindowGroupLimit (each map "
             "task forwards <= m days per source); kNN joins stay "
             "equi, no cartesian",
             "WindowGroupLimit" in p_dd and no_cartesian(p_dd)),
            ("collocations: pairs generated map-side (Generate, no "
             "position self-join); N is a broadcast 1-row cross — the "
             "only nested loop; marginals re-aggregate the pair table",
             "Generate" in p_col
             and p_col.count("BroadcastNestedLoopJoin") // 2 <= 1
             and "CartesianProduct" not in p_col
             and p_col.count("HashAggregate") >= 6),
        ],
    ))

    # 23. vocabulary remap, redaction, attribution, Fano factor,
    # temperature mixture
    from pyreshaper_spark.operators.text import pii_redact
    from pyreshaper_spark.operators.vocab import vocab_remap

    seq_v = seq.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "tokens"
    )
    p_vr = plan_of(vocab_remap(seq_v))
    docs_nc = docs.select("doc_id", "source", "n_chars", "text")
    p_px = plan_of(pii_redact(docs_nc))
    from pyreshaper_spark.operators.events import events_attribution
    from pyreshaper_spark.operators.rollup import bucket_fano

    ev = spark.read.parquet(f"{sf}/events.parquet")
    p_at = plan_of(events_attribution(ev))
    p_fa = plan_of(bucket_fano(rollup_all_tiers(seq, [600])[600]))
    from pyreshaper_spark.operators.sampling import mix_temperature_sqrt

    p_mt = plan_of(mix_temperature_sqrt(docs, budget=200))
    sections.append((
        "Vocab remap, redaction, attribution, Fano factor, temperature "
        "mixture",
        "\n".join([
            "--- vocab_remap ---", p_vr[:1600],
            "--- pii_redact ---", p_px[:700],
            "--- events_attribution ---", p_at[:1000],
            "--- bucket_fano(10m tier) ---", p_fa[:700],
            "--- mix_temperature_sqrt ---", p_mt[:1000],
        ]),
        [
            ("vocab remap: the V-bounded mapping joins BROADCAST "
             "(the token stream never shuffles for the lookup); "
             "posexplode is map-side Generate",
             "BroadcastHashJoin" in p_vr and "Generate" in p_vr
             and no_cartesian(p_vr)),
            ("pii redact: pure projection — zero exchanges, no join, "
             "text pruned into the scan",
             "Exchange" not in p_px and "Join" not in p_px
             and "text" in (p_px.split("ReadSchema")[1].split("\n")[0]
                            if "ReadSchema" in p_px else "")),
            ("attribution: conversion set joins equi (no cartesian); "
             "both touch picks ride user-keyed windows; O(types) "
             "final agg",
             no_cartesian(p_at) and p_at.count("Window") >= 2
             and p_at.count("HashAggregate") >= 4),
            ("fano: two partial+final hash aggs over the tiny tier, "
             "no join, no window",
             "Join" not in p_fa and "Window" not in p_fa
             and p_fa.count("HashAggregate") >= 4),
            ("temperature mixture: quota table joins BROADCAST; one "
             "source-keyed window; the only nested loop is the 1-row "
             "total cross",
             "BroadcastHashJoin" in p_mt
             and p_mt.count("BroadcastNestedLoopJoin") // 2 <= 1
             and "CartesianProduct" not in p_mt),
        ],
    ))

    # 24. declarative DQ suite, token coverage, 3-step paths, release diff
    from pyreshaper_spark.operators.checks import dq_documents
    from pyreshaper_spark.operators.events import events_paths3
    from pyreshaper_spark.operators.rollup import rollup_diff
    from pyreshaper_spark.operators.vocab import token_coverage, token_stream

    p_dq = plan_of(dq_documents(docs))
    p_tc = plan_of(token_coverage(token_stream(docs)))
    p_p3 = plan_of(events_paths3(ev))
    t600 = rollup_all_tiers(seq, [600])[600]
    p_rd = plan_of(rollup_diff(t600, t600.filter(F.col("cnt") > 1)))
    from pyreshaper_spark.operators.gapfill import alert_hysteresis
    from pyreshaper_spark.operators.rollup import apply_retention_policy

    p_rp = plan_of(
        apply_retention_policy(
            t600, 600, {"src0": 24, "src1": 48}, default_buckets=72
        )
    )
    p_ah = plan_of(alert_hysteresis(t600, hi=70, lo=40))
    from pyreshaper_spark.operators.vocab import doc_tfidf

    p_tf = plan_of(doc_tfidf(seq_v))
    from pyreshaper_spark.operators.forecast import conformal_interval

    p_ci = plan_of(conformal_interval(t600))
    from pyreshaper_spark.operators.checks import (
        check_suite_by,
        documents_rules,
    )

    p_db = plan_of(check_suite_by(docs, documents_rules()))
    sections.append((
        "DQ suite, token coverage, 3-step paths, rollup release diff",
        "\n".join([
            "--- dq_documents (9-rule suite) ---", p_dq[:1400],
            "--- token_coverage ---", p_tc[:1400],
            "--- events_paths3 ---", p_p3[:900],
            "--- rollup_diff ---", p_rd[:1000],
            "--- apply_retention_policy ---", p_rp[:800],
            "--- alert_hysteresis ---", p_ah[:800],
            "--- doc_tfidf ---", p_tf[:800],
            "--- conformal_interval ---", p_ci[:800],
            "--- check_suite_by (keyed DQ) ---", p_db[:800],
        ]),
        [
            ("DQ suite: the WHOLE rule set is ONE scan of documents "
             "(rule count adds agg columns, not passes); per-rule "
             "explode runs on the 1-row aggregate",
             p_dq.count("Scan parquet") // 2 <= 1 and "Join" not in p_dq
             and "Generate" in p_dq),
            ("DQ suite: uniqueness rides the same pass (distinct "
             "rewritten to a two-level keyed aggregate, partial+final "
             "at each level)",
             p_dq.count("HashAggregate") // 2 >= 3
             and "Expand" not in p_dq),
            ("token coverage: ONE corpus scan — grand total rides the "
             "same V-bounded window sort as the running sum; the only "
             "nested loop is the broadcast k-budget literal table",
             p_tc.count("Scan parquet") // 2 <= 1
             and p_tc.count("HashAggregate") >= 2
             and p_tc.count("BroadcastNestedLoopJoin") // 2 <= 1
             and "CartesianProduct" not in p_tc
             and "SortMergeJoin" not in p_tc),
            ("3-step paths: ONE user-keyed sort carries both lags "
             "(single window, single exchange before it), one hash "
             "agg, no join",
             p_p3.count("Window") // 2 <= 1 and "Join" not in p_p3
             and p_p3.count("HashAggregate") >= 2),
            ("rollup diff: tier-vs-tier FULL OUTER equi-join on "
             "(source, bucket) — no cartesian, no window, raw data "
             "never rescanned",
             "FullOuter" in p_rd and no_cartesian(p_rd)
             and "Window" not in p_rd),
            ("per-source retention policy: the policy map folds into "
             "the filter predicate (NO policy join — the only nested "
             "loop is the 1-row high-water broadcast); no window",
             p_rp.count("BroadcastNestedLoopJoin") // 2 <= 1
             and "CartesianProduct" not in p_rp
             and "BroadcastHashJoin" not in p_rp
             and "SortMergeJoin" not in p_rp
             and "Window" not in p_rp),
            ("hysteresis alert: LOCF state + transition lag share ONE "
             "source-keyed sort (both Window nodes above a single "
             "Sort; exchanges = tier agg + one window regroup), no "
             "join",
             p_ah.count("Sort") // 2 <= 1 and "Join" not in p_ah
             and p_ah.count("Exchange") // 2 <= 2
             and p_ah.count("Window") // 2 == 2),
            ("TF-IDF: document frequency is a V-bounded re-aggregate "
             "joined back BROADCAST; N is the only nested loop (1-row "
             "cross); no cartesian, no window",
             "BroadcastHashJoin" in p_tf
             and p_tf.count("BroadcastNestedLoopJoin") // 2 <= 1
             and "CartesianProduct" not in p_tf
             and "Window" not in p_tf),
            ("conformal intervals: q-hat (one row per source) joins "
             "back BROADCAST; no cartesian; windows ride per-source "
             "sorts of the tiny tier",
             "BroadcastHashJoin" in p_ci and no_cartesian(p_ci)
             and "SortMergeJoin" not in p_ci),
            ("keyed DQ suite: still ONE scan — the whole rule set "
             "rides a single source-keyed partial+final agg, per-rule "
             "explode on the per-group rows, no join",
             p_db.count("Scan parquet") // 2 <= 1 and "Join" not in p_db
             and "Generate" in p_db),
        ],
    ))

    out = ["# PLANS — physical-plan verification (auto-generated by "
           "tools/plan_report.py)\n"]
    all_ok = True
    for title, plan, checks in sections:
        out.append(f"\n## {title}\n")
        for desc, ok in checks:
            all_ok &= ok
            out.append(f"- [{'x' if ok else ' '}] {desc}\n")
        out.append(
            "\n```\n" + _TAIL_KEY.sub(
                r"\1<key>", _PART_FILE.sub("part-x", plan.strip()[:4000])
            )
            + "\n```\n"
        )
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.writelines(out)
    print("PLANS.md written; all checks pass:", all_ok)
    spark.stop()
    if not all_ok:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
