"""Train/eval contamination detection — exact n-gram overlap between
hash-assigned corpus splits.

The eval-integrity check every LLM data pipeline runs before training:
an eval document whose word n-grams substantially appear anywhere in
the train split is contaminated (the model would be graded on memorized
text). This composes two existing primitives — ``sampling.split_assign``
(hash-range splits, a pure function of doc_id) and ``dedup.ngram_sets``
(distinct word-n-gram shingle hashes) — into a per-eval-doc overlap
report.

Scale shape: the split label is a zero-shuffle column expression
evaluated directly on the shingle rows (no join back to documents);
the train side reduces to DISTINCT shingle hashes (one partial+final
hash agg over O(corpus shingles)); the eval side probes it with a
left-semi equi-join on the 32-bit shingle hash. Nothing is quadratic
and nothing is broadcast-sized by assumption — at 100 TB both sides
hash-partition on ``sh``; when the eval split is small (the usual
case) AQE turns the probe into a broadcast automatically. All outputs
are exact integers + a boolean, oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyreshaper_spark.functions.xhash import WORDS_SQL, h32_sql
from pyreshaper_spark.operators.dedup import ngram_sets
from pyreshaper_spark.operators.sampling import _rate_sql, split_assign


def split_contamination(
    docs: DataFrame,
    n: int = 3,
    val_bp: int = 1000,
    test_bp: int = 1000,
    num: int = 1,
    den: int = 10,
) -> DataFrame:
    """Per-eval-document contamination report: (doc_id, split, n_sh,
    n_hit, contaminated) for every val/test doc with ≥1 word n-gram,
    where ``n_hit`` counts its distinct shingles that occur in ANY
    train document and ``contaminated`` is the exact integer threshold
    ``n_hit/n_sh >= num/den``.

    Documents shorter than ``n`` words have no shingles and are absent
    (nothing to memorize at this n)."""
    # split is a pure function of doc_id -> evaluate it on the shingle
    # rows directly; no join against the documents table
    lab = split_assign(ngram_sets(docs, n), val_bp, test_bp)
    train_sh = (
        lab.filter(F.col("split") == "train").select("sh").distinct()
    )
    ev = lab.filter(F.col("split") != "train")
    base = ev.groupBy("doc_id", "split").agg(
        F.count("*").cast("long").alias("n_sh")
    )
    hits = (
        ev.join(train_sh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return (
        base.join(hits, "doc_id", "left")
        .na.fill({"n_hit": 0})
        .withColumn(
            "contaminated",
            F.col("n_hit") * F.lit(den) >= F.col("n_sh") * F.lit(num),
        )
    )


def split_contamination_sql(
    n: int = 3,
    val_bp: int = 1000,
    test_bp: int = 1000,
    num: int = 1,
    den: int = 10,
) -> str:
    """DuckDB twin of :func:`split_contamination` over ``documents``."""
    h = h32_sql("shingle")
    r = _rate_sql()
    return f"""
WITH w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents),
shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(words) - {n - 1}, 0)),
                i -> array_to_string(words[i:i+{n - 1}], ' '))) AS shingle
  FROM w
),
ns AS (SELECT DISTINCT doc_id, {h} AS sh FROM shingles),
lab AS (
  SELECT doc_id, sh,
         CASE WHEN {r} < {val_bp} THEN 'val'
              WHEN {r} < {val_bp + test_bp} THEN 'test'
              ELSE 'train' END AS split
  FROM ns
),
train_sh AS (SELECT DISTINCT sh FROM lab WHERE split = 'train'),
ev AS (SELECT * FROM lab WHERE split <> 'train'),
base AS (SELECT doc_id, split, count(*) AS n_sh FROM ev GROUP BY 1, 2),
hits AS (
  SELECT doc_id, count(*) AS n_hit
  FROM ev WHERE sh IN (SELECT sh FROM train_sh) GROUP BY 1
)
SELECT b.doc_id, b.split, b.n_sh,
       coalesce(h2.n_hit, 0) AS n_hit,
       coalesce(h2.n_hit, 0) * {den} >= b.n_sh * {num} AS contaminated
FROM base b LEFT JOIN hits h2 USING (doc_id)
"""


def benchmark_decontaminate(
    docs: DataFrame, bench_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Benchmark decontamination — the OTHER eval-integrity operator
    every LLM pipeline runs (GPT-3 appendix-C / Llama style): a corpus
    document is dropped when it shares ANY word n-gram with an
    EXTERNAL benchmark/eval set. Output is one row per corpus doc:
    (doc_id, source, n_sh, n_hit, keep) with ``keep = (n_hit == 0)``;
    docs shorter than ``n`` words carry n_sh=0 and are kept (nothing
    to leak at this n).

    Contrast :func:`split_contamination`: there the eval side is a
    hash split OF the corpus and the verdict is a ratio threshold;
    here the benchmark is a second relation and one hit is fatal.

    Scale shape: the benchmark reduces to DISTINCT shingle hashes —
    benchmarks are tiny next to a 100 TB corpus, so the left-semi
    probe becomes a broadcast join under AQE automatically, but
    nothing ASSUMES it fits (both sides hash-partition on ``sh`` when
    it doesn't). The corpus side is one shingle explode + two hash
    aggs; nothing quadratic, output exact integers + a boolean.
    """
    bench_sh = ngram_sets(bench_docs, n).select("sh").distinct()
    corpus_sh = ngram_sets(docs, n)
    per_doc = corpus_sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_sh")
    )
    hits = (
        corpus_sh.join(bench_sh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "source")
    return (
        base.join(per_doc, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .na.fill({"n_sh": 0, "n_hit": 0})
        .withColumn("keep", F.col("n_hit") == 0)
    )


def benchmark_decontaminate_sql(
    bench_pred: str, corpus_pred: str, n: int = 5
) -> str:
    """DuckDB twin of :func:`benchmark_decontaminate` where the
    benchmark and corpus sides are ``documents`` rows selected by the
    given SQL predicates (the oracle face derives its benchmark from
    the corpus deterministically). Each predicate filters ``documents``
    in a CTE of its own, so its text is used verbatim."""
    h = h32_sql("shingle")
    return f"""
WITH bench_docs AS (SELECT * FROM documents WHERE {bench_pred}),
corpus_docs AS (SELECT * FROM documents WHERE {corpus_pred}),
w AS (SELECT doc_id, {WORDS_SQL} AS words FROM documents),
shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(words) - {n - 1}, 0)),
                i -> array_to_string(words[i:i+{n - 1}], ' '))) AS shingle
  FROM w
),
ns AS (SELECT DISTINCT doc_id, {h} AS sh FROM shingles),
bench_sh AS (
  SELECT DISTINCT sh FROM ns
  WHERE doc_id IN (SELECT doc_id FROM bench_docs)
),
corpus AS (
  SELECT doc_id, sh FROM ns
  WHERE doc_id IN (SELECT doc_id FROM corpus_docs)
),
per_doc AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY 1),
hits AS (
  SELECT doc_id, count(*) AS n_hit
  FROM corpus WHERE sh IN (SELECT sh FROM bench_sh) GROUP BY 1
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, d.source,
       coalesce(p.n_sh, 0)  AS n_sh,
       coalesce(h2.n_hit, 0) AS n_hit,
       coalesce(h2.n_hit, 0) = 0 AS keep
FROM corpus_docs d
LEFT JOIN per_doc p ON CAST(d.doc_id AS VARCHAR) = CAST(p.doc_id AS VARCHAR)
LEFT JOIN hits h2   ON CAST(d.doc_id AS VARCHAR) = CAST(h2.doc_id AS VARCHAR)
"""
