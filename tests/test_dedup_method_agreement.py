"""Synthetic pin for x2_dedup_method_agreement with engineered overlap:
docs 1=2 share text AND embedding direction (caught by both methods),
docs 3=4 share text only (lexical-only), docs 5=6 share embedding
direction only (semantic-only) — union 3 pairs, intersection 1, so
overlap_jaccard = half-up(1/3 · 1e6)/1e6 = 0.333333.
"""

from etl_active911_spark.operators.similarity import EMB_DIM
from etl_active911_spark.plans import registry
from etl_active911_spark.plans.cache import clear_fixture_memos

registry.load_all()


def _unit(axis: int) -> list[float]:
    v = [0.0] * EMB_DIM
    v[axis] = 1.0
    return v


def test_agreement_confusion_cells(spark, tmp_path):
    clear_fixture_memos()
    texts = {
        0: "zeta eta theta iota",
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta epsilon",   # = doc 1 (lexical dup)
        3: "one two three four five",
        4: "one two three four five",          # = doc 3 (lexical dup)
        5: "red green blue amber",
        6: "cyan magenta yellow black",
        7: "north south east west",
        8: "spring summer autumn winter",
        9: "mercury venus mars jupiter",
    }
    # seeds are vec_id % 7 == 0 (ids 0 and 7): give them their own axes so
    # no corpus vector accidentally pairs with a seed
    vecs = {
        0: _unit(10),               # seed, cell 0
        7: _unit(11),               # seed, cell 1
        1: _unit(0),
        2: _unit(0),                # = vec 1 (semantic dup, same cell)
        3: _unit(1),
        4: _unit(2),                # ⟂ vec 3: lexical-only pair
        5: _unit(3),
        6: _unit(3),                # = vec 5 (semantic-only pair)
        8: _unit(4),
        9: _unit(5),
    }
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))

    row = registry.QUERIES["x2_dedup_method_agreement"](spark, str(tmp_path)).collect()[0]
    clear_fixture_memos()

    assert row["n_lexical"] == 2, row
    assert row["n_semantic"] == 2, row
    assert row["n_both"] == 1, row
    assert row["n_lexical_only"] == 1 and row["n_semantic_only"] == 1, row
    assert row["overlap_jaccard"] == 0.333333, row
