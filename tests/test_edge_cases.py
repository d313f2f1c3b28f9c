"""Empty-input / single-row edge cases (SURVEY.md §5.2 item 3) across the
operator families, plus the frame-sample multimodal stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_housing_spark.functions.cleaning import clean_listings
from etl_housing_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dups,
    simhash,
    simhash_near_dups,
)
from etl_housing_spark.operators.encode import get_dummies, keyword_flags
from etl_housing_spark.operators.multimodal import frame_sample, synthesize_media
from etl_housing_spark.operators.quantize import ivfpq_scaled_topk
from etl_housing_spark.operators.similarity import (
    exact_neardup_pairs,
    lsh_neardup_pairs,
    topk_bruteforce,
)

LISTING_SCHEMA = (
    "name string, address string, unit string, sqft string, bed string, bath string, "
    "price string, city string, state string, zipcode string, description string, "
    "details string, url string, date string"
)


def test_clean_listings_empty_input(spark):
    empty = spark.createDataFrame([], LISTING_SCHEMA)
    out = clean_listings(empty)
    assert out.count() == 0
    assert dict(out.dtypes)["price"] == "int"  # schema still typed


def test_dedup_empty_and_single(spark):
    empty = spark.createDataFrame([], "id long, k string")
    assert exact_dedup(empty, ["k"], "id").count() == 0
    one = spark.createDataFrame([(1, "a")], "id long, k string")
    assert exact_dedup(one, ["k"], "id").count() == 1


def test_minhash_single_doc_no_pairs(spark):
    one = spark.createDataFrame([(1, "only document here")], "doc_id long, text string")
    assert minhash_near_dups(one, "doc_id", "text").count() == 0
    assert simhash(one, "doc_id", "text").count() == 1


def test_minhash_rejects_more_bands_than_hashes(spark):
    # rows = 0: every doc would hash its empty band to one bucket
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dups(one, "doc_id", "text", num_hashes=4, bands=8)


def test_minhash_rejects_bands_not_dividing_hashes(spark):
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_near_dups(one, "doc_id", "text", num_hashes=16, bands=3)


def test_minhash_rejects_no_hashes(spark):
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_near_dups(one, "doc_id", "text", num_hashes=0, bands=4)


def test_minhash_rejects_more_hashes_than_the_table(spark):
    # the affine table holds 64 pairs: zip would silently truncate past it
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_near_dups(one, "doc_id", "text", num_hashes=128, bands=4)


@pytest.mark.parametrize(
    "query_vec",
    [[0.5], [0.5] * 63, [float("nan")] + [0.5] * 63],
    ids=["len1", "dim-1", "nan"],
)
def test_ivfpq_serve_rejects_malformed_query(spark, query_vec):
    # a short vector would broadcast through the driver probe and
    # null-pad the exact distance; a NaN one has no distance order
    one = spark.createDataFrame([(0, [0.0] * 64)], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="query_vec"):
        ivfpq_scaled_topk(one, dim=64, query_vec=query_vec)


def test_simhash_rejects_max_hamming_at_chunks(spark):
    # pigeonhole needs max_hamming < chunks
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(one, "doc_id", "text", max_hamming=4, chunks=4)


def test_simhash_rejects_chunks_not_dividing_bits(spark):
    one = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(one, "doc_id", "text", max_hamming=2, chunks=5)


def test_topk_k_larger_than_corpus(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = topk_bruteforce(emb, query_id=1, k=100, metric="cosine")
    assert out.count() == 2  # limit beyond corpus returns the corpus


def test_lsh_neardup_filters_the_unrounded_cosine(spark):
    """A pair whose cosine only ROUNDS to the threshold (0.39999996 → 0.4)
    is not a near-dup: lsh_neardup_pairs verifies the raw value, like
    exact_neardup_pairs and the DuckDB oracles. Every LSH pair is a true
    pair."""
    import math

    x = 0.39999996
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [x, math.sqrt(1 - x * x)])],
        "vec_id long, embedding array<double>",
    )

    def lsh(t):
        return lsh_neardup_pairs(emb, threshold=t, planes=1, dim=2, tables=16).collect()

    # the pair IS a candidate (16 tables of one plane collide it)
    assert [(r.id_a, r.id_b, r.cos) for r in lsh(0.39)] == [(1, 2, 0.4)]
    assert exact_neardup_pairs(emb, threshold=0.4).count() == 0
    assert lsh(0.4) == []


def test_encode_empty_vocabulary(spark):
    empty = spark.createDataFrame([], "id long, c string")
    out = get_dummies(empty, "c")  # no distinct values → no flag columns
    assert out.columns == ["id", "c"]
    kw = keyword_flags(spark.createDataFrame([], "id long, t string"), "t", ["x"])
    assert kw.count() == 0 and "x" in kw.columns


def test_frame_sample_cardinality_and_determinism(spark):
    base = spark.createDataFrame([(i, f"s{i}") for i in range(5)], "id long, s string")
    media = synthesize_media(base, "id", "s").withColumn(
        "meta",
        F.struct(
            F.col("meta.format").alias("format"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(10).alias("n_frames"),
        ),
    )
    frames = frame_sample(media, every_n=3)  # indices 0,3,6,9 → 4 per video
    assert frames.count() == 20
    r = frames.orderBy("media_id", "frame_idx").first()
    assert r.frame_idx == 0 and len(bytes(r.frame_payload)) > 0
    # deterministic: same inputs → same bytes
    again = frame_sample(media, every_n=3).orderBy("media_id", "frame_idx").first()
    assert bytes(again.frame_payload) == bytes(r.frame_payload)


def test_frame_sample_strict_is_marked_stub(spark):
    base = spark.createDataFrame([(1, "s")], "id long, s string")
    media = synthesize_media(base, "id", "s")
    with pytest.raises(Exception, match="real frame decode"):
        frame_sample(media, strict=True).collect()
