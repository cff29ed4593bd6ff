"""Synthetic pins for x2_threshold_sweep where the thresholds actually
discriminate (the sf fixtures' duplicates are all near-exact, so the
driver-checked curve is flat there).

Construction: docs A = S·X, B = S·Y with unique suffix tokens give
3-gram Jaccard (s-2)/(s+x+y-2) exactly — four pairs engineered at
jac = 0.9 (knife-edge equality with the 0.9 threshold literal),
0.7, 0.55, and 0.45 (below the 0.5 floor, never counted).
"""

from etl_active911_spark.plans import registry
from etl_active911_spark.plans.cache import clear_fixture_memos

registry.load_all()


def _pair(base: str, a_id: int, b_id: int, s: int, x: int, y: int):
    shared = " ".join(f"{base}s{i}" for i in range(s))
    xa = " ".join(f"{base}a{i}" for i in range(x))
    yb = " ".join(f"{base}b{i}" for i in range(y))
    return [
        (a_id, (shared + " " + xa).strip()),
        (b_id, (shared + " " + yb).strip()),
    ]


def test_threshold_sweep_graded_pairs(spark, tmp_path):
    clear_fixture_memos()
    rows = (
        _pair("p1", 1, 2, 38, 2, 2)      # jac = 36/40  = 0.9
        + _pair("p2", 3, 4, 16, 3, 3)    # jac = 14/20  = 0.7
        + _pair("p3", 5, 6, 13, 5, 4)    # jac = 11/20  = 0.55
        + _pair("p4", 7, 8, 11, 6, 5)    # jac =  9/20  = 0.45 (below floor)
        + [(9, "q0 q1 q2 q3 q4")]        # singleton
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["threshold"]: r
        for r in registry.QUERIES["x2_threshold_sweep"](spark, str(tmp_path)).collect()
    }
    clear_fixture_memos()

    assert set(out) == {0.5, 0.6, 0.7, 0.8, 0.9}
    expect = {
        0.5: (3, 6, 3, 0.333333),
        0.6: (2, 4, 2, 0.222222),
        0.7: (2, 4, 2, 0.222222),   # 0.7 pair survives its own threshold
        0.8: (1, 2, 1, 0.111111),
        0.9: (1, 2, 1, 0.111111),   # 36/40 == 0.9 knife-edge kept
    }
    for th, (n_pairs, n_aff, n_drop, share) in expect.items():
        r = out[th]
        assert r["n_pairs"] == n_pairs, (th, r)
        assert r["n_docs_affected"] == n_aff, (th, r)
        assert r["n_dropped"] == n_drop, (th, r)
        assert r["drop_share"] == share, (th, r)
