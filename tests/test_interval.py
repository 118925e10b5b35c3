"""Chunk-bucketed interval join (rangejoin.interval_join) — half-open
window semantics + the equi-join plan shape. The inclusive-end default
is covered by test_events.py::events_in_sessions."""

from __future__ import annotations

from pyreshaper_spark.operators.rangejoin import interval_join


def _wins(spark, rows):
    return spark.createDataFrame(
        rows, "source string, start_s long, end_s long"
    )


def _facts(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, source string, event_s long"
    )


def _join(facts, wins, chunk_s=3600):
    return interval_join(
        facts, wins, key="source", point_ts="event_s",
        start_col="start_s", end_col="end_s", chunk_s=chunk_s,
        end_exclusive=True,
    )


def test_interval_join_halfopen_semantics(spark):
    wins = _wins(spark, [
        ("a", 1000, 5000),     # spans chunks 0 and 1 at chunk_s=3600
        ("a", 7200, 7260),     # sub-chunk window
        ("b", 1000, 5000),     # other key — must not cross-match
    ])
    facts = _facts(spark, [
        ("d1", "a", 1000),     # start inclusive
        ("d2", "a", 4999),     # last second (and in chunk 1 ≠ start's)
        ("d3", "a", 5000),     # end exclusive → no match
        ("d4", "a", 7259),     # inside the sub-chunk window
        ("d5", "a", 999),      # before any window
        ("d6", "c", 2000),     # key with no windows
    ])
    got = {
        (r["doc_id"], r["start_s"])
        for r in _join(facts, wins).collect()
    }
    assert got == {("d1", 1000), ("d2", 1000), ("d4", 7200)}


def test_interval_join_chunk_aligned_exclusive_end(spark):
    """An exclusive end ON a chunk boundary must not explode the window
    into the next chunk (end-1 drives the chunk range)."""
    wins = _wins(spark, [("a", 0, 3600)])
    facts = _facts(spark, [("d", "a", 3600), ("e", "a", 3599)])
    got = {r["doc_id"] for r in _join(facts, wins).collect()}
    assert got == {"e"}


def test_interval_join_overlapping_windows_emit_pairs(spark):
    """SQL semantics: a row inside two overlapping windows appears once
    per window."""
    wins = _wins(spark, [("a", 0, 100), ("a", 50, 150)])
    facts = _facts(spark, [("d", "a", 60)])
    rows = _join(facts, wins, chunk_s=60).collect()
    assert sorted(r["start_s"] for r in rows) == [0, 50]


def test_interval_join_plans_as_equi_join(spark):
    """The point of the chunk trick: the physical plan must be a hash /
    sort-merge EQUI join on (key, chunk) — never the nested loop the
    naive keyless range predicate plans as."""
    wins = _wins(spark, [("a", 0, 7200)])
    facts = _facts(spark, [("d", "a", 60)])
    plan = (
        _join(facts, wins)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # an actual (equi) join is present
    # the join keys must include the chunk, not the source alone —
    # that is what bounds per-row comparisons to windows overlapping
    # the row's chunk (source-only keys = per-key O(rows × windows))
    assert "_chunk" in plan.split("Join")[1].split("\n")[0]
    # and a KEYLESS range predicate really does degrade to a nested
    # loop — the shape the chunk join exists to avoid
    naive = (
        facts.join(
            wins,
            (facts.event_s >= wins.start_s)
            & (facts.event_s < wins.end_s),
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" in naive or "Cartesian" in naive


def test_interval_join_degenerate_intervals_total(spark):
    """Totality on degenerate inputs: a zero-width half-open window
    whose start sits ON a chunk boundary (floor(start) > floor(end-1))
    and a reversed window (end < start) must both yield zero pairs —
    not an 'Illegal sequence boundaries' runtime error from the
    explicit-step chunk explode (the stop is clamped to the start
    chunk; the exact range predicate filters the spurious candidate)."""
    wins = _wins(spark, [
        ("a", 3600, 3600),     # zero-width, start on chunk boundary
        ("a", 5000, 4000),     # reversed
        ("a", 0, 3600),        # sane window riding along
    ])
    facts = _facts(spark, [
        ("d1", "a", 3600),     # at the zero-width point → no match
        ("d2", "a", 4500),     # inside the reversed range → no match
        ("d3", "a", 60),       # inside the sane window
    ])
    rows = _join(facts, wins).collect()
    assert {(r["doc_id"], r["start_s"]) for r in rows} == {("d3", 0)}
