"""ann.nearest: the determinism contract (round before compare, ties to the
smallest id) and the shuffle-free assignment, over tiny in-memory frames."""

from __future__ import annotations

import pytest

from bridgedownstream_spark.operators.ann import nearest


def _flat(spark):
    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0], 1.0), (2, [1.0, 0.0], 1.0)],
        "vec_id long, emb array<double>, nrm double",
    )
    cents = spark.createDataFrame(
        [
            (8, [1.0, 0.0], 1.0),
            # 1e-7 / 1e-4 off cent 8: equal to it once rounded to 6 digits
            (4, [0.0, 1.0000001], 1.0000001),
            (6, [1.0, 1e-4], (1.0 + 1e-8) ** 0.5),
            (9, [2.0, 0.0], 2.0),
            # a null score must lose, never win
            (1, [1.0, 0.0], None),
        ],
        "cent_id long, c_emb array<double>, c_nrm double",
    )
    return vecs, cents


def _keyed(spark):
    sv = spark.createDataFrame(
        [(1, 0, [0.0]), (1, 1, [2.0])], "vec_id long, sub int, subvec array<double>"
    )
    cb = spark.createDataFrame(
        [(0, 3, [1.0]), (0, 2, [-1.0]), (1, 5, [4.0]), (1, 1, [0.0])],
        "sub int, cent_id int, c_vec array<double>",
    )
    return sv, cb


def _winners(df, *key):
    return {tuple(r[k] for k in key): r["cent_id"] for r in df.collect()}


def test_l2_ties_go_to_smallest_id_after_rounding(spark):
    vecs, cents = _flat(spark)
    df = nearest(vecs.where("vec_id = 1"), cents, "emb", "c_emb", "cent_id", digits=6)
    # cents 1, 8 and (rounded) 4 and 6 are all at distance 1
    assert _winners(df, "vec_id") == {(1,): 1}
    df = nearest(
        vecs.where("vec_id = 1"), cents.where("cent_id <> 1"),
        "emb", "c_emb", "cent_id", digits=6,
    )
    assert _winners(df, "vec_id") == {(1,): 4}


def test_cos_ties_go_to_smallest_id_and_null_scores_lose(spark):
    vecs, cents = _flat(spark)
    df = nearest(
        vecs.where("vec_id = 2"), cents, "emb", "c_emb", "cent_id",
        digits=6, metric="cos",
    )
    # cents 8, 9 and (rounded) 6 all have cosine 1; cent 1's score is null
    assert _winners(df, "vec_id") == {(2,): 6}
    assert df.first()["score"] == 1.0


def test_keyed_ties_go_to_smallest_id_within_the_key(spark):
    sv, cb = _keyed(spark)
    df = nearest(sv, cb, "subvec", "c_vec", "cent_id", digits=9, key="sub")
    # sub 0: cents 3 and 2 at distance 1; sub 1: cents 5 and 1 at distance
    # 4 (cent 3 of sub 0 would be nearer if keys leaked)
    assert _winners(df, "vec_id", "sub") == {(1, 0): 2, (1, 1): 1}


def _shuffles_outside_broadcast(plan: str) -> list[str]:
    """Exchange lines of a plan tree that do not sit under a
    BroadcastExchange — a shuffle of the vector frame itself."""
    out, bcast_depth = [], None
    for line in plan.splitlines():
        body = line.lstrip(" :+-|")
        depth = len(line) - len(body)
        if not body:
            continue
        if bcast_depth is not None and depth <= bcast_depth:
            bcast_depth = None
        if body.startswith("BroadcastExchange"):
            bcast_depth = depth if bcast_depth is None else bcast_depth
        elif "Exchange " in body and bcast_depth is None:
            out.append(body)
    return out


@pytest.mark.parametrize("mode", ["l2", "cos", "keyed"])
def test_assignment_shuffles_only_the_candidates(spark, mode):
    if mode == "keyed":
        sv, cb = _keyed(spark)
        df = nearest(sv, cb, "subvec", "c_vec", "cent_id", digits=9, key="sub")
    else:
        vecs, cents = _flat(spark)
        df = nearest(vecs, cents, "emb", "c_emb", "cent_id", digits=6, metric=mode)
    # size-based broadcasting off: the broadcast must come from the helper,
    # as it must for a corpus-sized frame
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" in plan
    assert not _shuffles_outside_broadcast(plan), plan
    if mode != "keyed":  # one candidate array row: no hash exchange at all
        assert "Exchange hashpartitioning" not in plan, plan
