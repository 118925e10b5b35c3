"""token_movers against a brute-force reference."""

from __future__ import annotations

import random
from collections import Counter


def test_token_movers_brute_force(spark):
    from pyreshaper_spark.operators.vocab import (
        _LIFT_SCALE,
        token_movers,
    )

    rng = random.Random(23)
    day = 86400
    rows = [
        ("a", rng.randrange(0, 3 * day), rng.randint(0, 9))
        for _ in range(3000)
    ]
    tok = spark.createDataFrame(
        rows, "source string, event_s long, token long"
    )
    k, min_count = 4, 2
    counts = Counter(((e // day) * day, t) for _, e, t in rows)
    counts = {kk: c for kk, c in counts.items() if c >= min_count}
    want = {}
    for b in {b for b, _ in counts}:
        cands = []
        for (bb, t), c_cur in counts.items():
            if bb != b:
                continue
            c_prev = counts.get((b - day, t))
            if c_prev is None:
                continue
            cands.append(((c_cur * _LIFT_SCALE) // c_prev, t,
                          c_prev, c_cur))
        cands.sort(key=lambda x: (-x[0], x[1]))
        for rank, (lift, t, cp, cc) in enumerate(cands[:k], start=1):
            want[(b, t)] = (cp, cc, lift, rank)
    got = {
        (r["bucket_s"], r["token"]):
            (r["c_prev"], r["c_cur"], r["lift_k"], r["rank"])
        for r in token_movers(tok, day, k=k, min_count=min_count).collect()
    }
    assert got == want and len(got) > 0
