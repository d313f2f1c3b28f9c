"""Operator-family unit tests on tiny inline DataFrames (SURVEY.md §5.2
item 3): dedup, similarity, encode, multimodal plumbing — nulls, planted
duplicates, determinism, batch contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_housing_spark.operators.dedup import (
    band_pairs,
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_near_dups,
)
from etl_housing_spark.operators.encode import get_dummies, keyword_flags
from etl_housing_spark.operators.multimodal import (
    decode_media,
    extract_features,
    resize_media,
    resize_stub,
    synthesize_media,
)
from etl_housing_spark.operators.similarity import (
    ivf_topk,
    lsh_neardup_pairs,
    topk_bruteforce,
    topk_many,
)

# ---------------------------------------------------------------- dedup ----

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different text about spark engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, k string, v long"
    )
    out = exact_dedup(df, ["k"], "id").orderBy("id").collect()
    assert [(r.id, r.k) for r in out] == [(1, "a"), (3, "b")]


def test_shingles_max_df_caps_hot_keys(docs):
    # 'the' appears in 3 docs; with max_df=2 it must vanish from the output
    out = shingles(docs, "doc_id", "text", n=1, max_df=2)
    assert out.filter(F.col("sh") == "the").count() == 0
    assert out.filter(F.col("sh") == "spark").count() == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and (1, 4) in got  # near-dup + exact dup
    assert not any(3 in p for p in got)  # unrelated doc never pairs


def test_minhash_near_dups(docs):
    pairs = minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got  # identical docs always collide, est_jaccard = 1.0
    assert not any(3 in p for p in got)
    exact = pairs.filter((F.col("id_a") == 1) & (F.col("id_b") == 4)).collect()[0]
    assert exact.est_jaccard == 1.0


def test_simhash_near_dups(docs):
    sh = {r.id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[4]  # identical text → identical simhash
    pairs = simhash_near_dups(docs, "doc_id", "text", max_hamming=6, chunks=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got


def test_band_pairs_matches_bruteforce(spark):
    """band_pairs law: exactly the distinct id_a < id_b pairs sharing a
    (band, bkey), against a brute-force Python reference."""
    from itertools import combinations

    rows = [
        (1, 0, 7), (2, 0, 7), (1, 1, 9), (2, 1, 9),  # share two bands: once
        (3, 0, 5), (4, 1, 5),  # equal key, different bands: no pair
        *[(i, 2, 11) for i in (10, 11, 12, 13, 14)],  # one bucket of 5 ids
        (20, 0, 8),  # alone in its bucket
    ]
    banded = spark.createDataFrame(rows, "id long, band int, bkey long")
    got = sorted((r.id_a, r.id_b) for r in band_pairs(banded).collect())
    want = sorted(
        {
            (min(x[0], y[0]), max(x[0], y[0]))
            for x, y in combinations(rows, 2)
            if x[1:] == y[1:] and x[0] != y[0]
        }
    )
    assert got == want
    assert (1, 2) in got and (3, 4) not in got
    assert sum(1 for p in got if p[0] >= 10) == 10  # C(5, 2)
    assert all(a < b for a, b in got)
    assert band_pairs(spark.createDataFrame([], "id long, band int, bkey long")).count() == 0
    with pytest.raises(ValueError, match="exactly"):  # payload must not ride the join
        band_pairs(banded.withColumn("sig", F.lit(1)))


@pytest.mark.parametrize("bands,rows", [(4, 4), (8, 2)])
def test_minhash_pairs_matches_bruteforce(spark, bands, rows):
    """minhash_pairs law on planted signature arrays: the candidates are
    exactly the pairs sharing a band slice, with n_match and est_jaccard
    equal to a pure-Python agreement count."""
    from itertools import combinations

    from etl_housing_spark.operators.dedup import minhash_pairs

    base = list(range(100, 116))
    sigs = {
        1: base,
        2: base[:4] + [0] * 12,  # shares only the first 4 positions
        3: [0] * 14 + base[14:],  # shares only the last 2 positions
        4: base[:2] + [9] * 14,  # shares positions 0-1: one 8x2 band only
        5: [7] * 16,  # shares nothing
        6: base[:8] + [5] * 8,  # same band prefix as 1 and 2 in 4x4
    }
    frame = spark.createDataFrame(list(sigs.items()), "id long, sig array<bigint>")
    got = {
        (r.id_a, r.id_b): (r.n_match, r.est_jaccard)
        for r in minhash_pairs(frame, bands, rows).collect()
    }
    want = {}
    for a, b in combinations(sorted(sigs), 2):
        sa, sb = sigs[a], sigs[b]
        if any(sa[k * rows:(k + 1) * rows] == sb[k * rows:(k + 1) * rows]
               for k in range(bands)):
            n = sum(x == y for x, y in zip(sa, sb))
            want[(a, b)] = (n, n / 16)
    assert got == want
    assert (1, 4) in got if rows == 2 else (1, 4) not in got
    assert not any(5 in p for p in got)


def test_skinny_pair_attach_matches_reference(spark, docs):
    """The r16 skinny-pairs forms (candidates carry ids only; signatures /
    fingerprints re-attach by id after the distinct) must reproduce the
    payload-carrying reference join exactly — here recomputed from the
    signature frames directly. ``docs`` is a local relation (no input
    files), so this also pins the broadcast_if_tiny no-op path: the attach
    must stay correct as a plain equi-join when the source is not provably
    tiny."""
    from etl_housing_spark.operators.dedup import minhash_signatures

    # minhash: est_jaccard re-derivable from the signature frame per pair
    pairs = minhash_near_dups(
        docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.0
    ).collect()
    sig = {r.id: list(r.sig) for r in
           minhash_signatures(docs, "doc_id", "text", 16, 1).collect()}
    assert pairs, "banding at threshold 0 must emit candidates"
    for r in pairs:
        est = sum(x == y for x, y in zip(sig[r.id_a], sig[r.id_b])) / 16.0
        assert r.est_jaccard == est
        assert r.id_a < r.id_b
    # simhash: hamming re-derivable from the fingerprint frame per pair
    sh = {r.id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    # 32 one-bit chunks: the widest valid layout, so nearly every pair is a
    # candidate and the distance filter keeps all but complements
    for r in simhash_near_dups(
        docs, "doc_id", "text", max_hamming=31, chunks=32
    ).collect():
        assert r.hamming == bin(sh[r.id_a] ^ sh[r.id_b]).count("1")


# ----------------------------------------------------------- similarity ----


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "a"),
        (2, [0.9, 0.1, 0.0, 0.0], "a"),  # close to 1
        (3, [0.0, 1.0, 0.0, 0.0], "b"),
        (4, [0.0, 0.0, 1.0, 0.0], "b"),
        (5, [1.0, 0.0, 0.0, 0.1], "a"),  # close to 1
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")


def test_topk_bruteforce_cosine_self_first(emb):
    out = topk_bruteforce(emb, query_id=1, k=3, metric="cosine").collect()
    assert out[0].vec_id == 1 and out[0].score == 1.0
    assert {r.vec_id for r in out} == {1, 2, 5}


def test_topk_many_per_query_k(spark, emb):
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        "query_id long, query_vec array<float>",
    )
    out = topk_many(emb, queries, k=2)
    counts = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {100: 2, 200: 2}
    top_for_200 = out.filter(F.col("query_id") == 200).orderBy(F.desc("score")).first()
    assert top_for_200.vec_id == 3


def test_lsh_neardup_finds_close_pair(emb):
    pairs = lsh_neardup_pairs(emb, threshold=0.9, planes=4, dim=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # 1 and 2 have cosine ≈ 0.994 and identical hyperplane signs
    assert (1, 2) in got
    assert not any(4 in p for p in got)


def test_ivf_topk_prunes_to_probed_cells(emb):
    # query vector 1 lives in cell 'a'; nprobe=1 must keep results within 'a'
    out = ivf_topk(emb, query_id=1, k=5, nprobe=1, cell_col="label").collect()
    assert {r.vec_id for r in out} <= {1, 2, 5}
    # nprobe=2 widens to the full corpus (both cells probed)
    out2 = ivf_topk(emb, query_id=1, k=5, nprobe=2, cell_col="label")
    assert out2.count() == 5


@pytest.mark.parametrize("nparts", [1, 4])
def test_ivf_topk_probe_breaks_score_ties_by_cell(spark, nparts):
    """Cells 2 and 7 both have centroid (0.625, 0.625), so the query (1, 1)
    scores them equally (1.25, exact in decimal and double). With
    nprobe=1 the probe must take the lower cell id whatever the
    partitioning: ivf_topk orders the probe by (score DESC, cell)."""
    rows = [
        (2, [0.5, 0.75], 7),
        (3, [0.75, 0.5], 7),
        (0, [1.0, 1.0], 2),
        (1, [0.25, 0.25], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    ).repartition(nparts)
    out = ivf_topk(emb, query_id=0, k=10, nprobe=1)
    assert {r.vec_id for r in out.collect()} == {0, 1}


def _nearest_cases():
    """(dim, cands, codebook rows, vectors) with planted exact ties and
    near-ties.

    cand 7 repeats cand 3's vector (an exact tie: 3 must win) and is
    listed first. cands 9 and 10 are (0.25 + 1 ulp, 0, …) and (0.25, 0, …):
    from the zero vector their d² are two ulps apart (0.0625 + 2⁻⁵⁵ vs
    0.0625), so the HIGHER id 10 must win on d², while on the all-zero
    second subvector they tie exactly and 9 must win. Rows are
    cand 3's vector, the zero vector and seeded Gaussian draws."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 8
    cands = {c: rng.normal(0, 0.5, dim) for c in range(9) if c != 7}
    cands[7] = cands[3].copy()
    cands[9] = np.zeros(dim)
    cands[9][0] = np.nextafter(0.25, 1.0)
    cands[10] = np.zeros(dim)
    cands[10][0] = 0.25
    order = [7, 10, 9] + [c for c in range(9) if c != 7]
    cb = [(c, i, float(cands[c][i])) for c in order for i in range(dim)]
    vecs = [cands[3], np.zeros(dim)] + [rng.normal(0, 0.5, dim) for _ in range(40)]
    return dim, cands, cb, [[float(x) for x in v] for v in vecs]


def _brute_nearest(v, cands, lo, hi):
    """NumPy brute force over dims [lo, hi): per-dim double (x − c)²,
    the decimal(p,18) fold replicated exactly (quantize._dec18_fold),
    argmin by (d2, cand)."""
    import numpy as np

    from etl_housing_spark.operators.quantize import _dec18_fold

    x = np.asarray(v[lo:hi])
    scored = sorted(
        (_dec18_fold(((x - c[lo:hi]) ** 2).tolist(), fast=False), cid)
        for cid, c in cands.items()
    )
    return scored[0], scored[1]


def test_nearest_matches_numpy_bruteforce(spark):
    """clustering.nearest law: over full vectors and over subvectors (the
    PQ form), the (d2, cand) winner equals a NumPy brute force with the
    decimal fold replicated exactly — exact ties go to the lower cand,
    near-ties one ulp apart resolve by the exact d², and neither the
    codebook's row order nor its partitioning can change the winner."""
    import numpy as np

    from etl_housing_spark.operators import clustering as C
    from etl_housing_spark.operators.quantize import _nearest_codes

    dim, cands, cb_rows, vecs = _nearest_cases()
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    cb = spark.createDataFrame(cb_rows, "cand long, i int, c double").repartition(3)

    full = emb.crossJoin(F.broadcast(C.cand_arrays(cb))).select(
        "vec_id", C.nearest(F.col("embedding"), F.col("cands")).alias("b")
    )
    got = {r.vec_id: (r.b.d2, r.b.cand) for r in full.collect()}
    for vid, v in enumerate(vecs):
        assert got[vid] == _brute_nearest(v, cands, 0, dim)[0], vid
    assert got[0] == (0.0, 3)  # exact tie with cand 7
    assert got[1] == (0.0625, 10)
    best, second = _brute_nearest(vecs[1], cands, 0, dim)
    assert second[1] == 9 and 0 < second[0] - best[0] <= 2 * np.spacing(best[0])

    per_sub = 4
    subs = _nearest_codes(emb, cb, dim // per_sub, dim, "vec_id", "embedding")
    got_sub = {(r.vec_id, r.sub): (r.b.d2, r.b.cand) for r in subs.collect()}
    assert len(got_sub) == len(vecs) * (dim // per_sub)
    for (vid, sub), val in got_sub.items():
        lo = sub * per_sub
        assert val == _brute_nearest(vecs[vid], cands, lo, lo + per_sub)[0], (vid, sub)
    assert got_sub[(0, 0)][1] == 3 and got_sub[(0, 1)][1] == 3
    assert got_sub[(1, 0)] == (0.0625, 10)
    assert got_sub[(1, 1)] == (0.0, 9)  # cands 9 and 10 tie exactly here


def _reversed_pair(rng):
    """Two 4-dim candidates p, q whose distances from the zero vector the
    double fold orders opposite to the exact fold, in 4 dims and again
    when each is repeated to 8 dims: q is a shuffle of p with one
    coordinate moved one ulp toward 0, so its exact d² is smaller while
    the shuffled fold order rounds it larger. Seeded search."""
    import math

    from etl_housing_spark.operators.quantize import _dec18_fold

    def folds(c):
        t = [x * x for x in c]
        return _dec18_fold(t, fast=True), _dec18_fold(t, fast=False)

    for _ in range(10_000):
        p = [rng.gauss(0, 0.5) for _ in range(4)]
        q = p[:]
        rng.shuffle(q)
        j = rng.randrange(4)
        q[j] = math.nextafter(q[j], 0.0)
        (fp, dp), (fq, dq) = folds(p), folds(q)
        (f8p, d8p), (f8q, d8q) = folds(p + p), folds(q + q)
        if fp < fq and dp > dq and f8p < f8q and d8p > d8q:
            return p, q
    raise AssertionError("no reversed pair found")


def test_nearest_certificate_verifies_reversed_near_ties(spark, monkeypatch):
    """clustering.nearest's double filter passes every near-tie to the
    decimal verify: cand 4 (p) has the smallest double fold but cand 6
    (q) the smaller exact d², and cand 9 (q reversed) ties cand 6 exactly
    while folding differently in double. The winner equals the NumPy
    brute force over full vectors and over subvectors; all three survive
    the filter and the far candidates are pruned. Under EHS_FAST_SUMS=1
    the rows are the same: nearest is exact in both modes."""
    import random

    import numpy as np

    from etl_housing_spark.operators import clustering as C
    from etl_housing_spark.operators.quantize import _dec18_fold, _nearest_codes

    rng = random.Random(7)
    p, q = _reversed_pair(rng)
    dim = 8
    cands = {4: p + p, 6: q + q, 9: (q + q)[::-1]}
    for cid in (0, 1, 2, 3):
        cands[cid] = [3.0 + rng.gauss(0, 0.5) for _ in range(dim)]
    cands = {c: np.asarray(v) for c, v in cands.items()}
    zero = [0.0] * dim
    vecs = [zero] + [[rng.gauss(0, 0.7) for _ in range(dim)] for _ in range(20)]

    # the filter, replicated: who survives to the decimal verify from 0
    f = {c: _dec18_fold((v * v).tolist(), fast=True) for c, v in cands.items()}
    m = min(f.values())
    alive = {c for c, x in f.items() if x <= C._limit(m, dim)}
    assert alive == {4, 6, 9}
    assert min(f, key=lambda c: (f[c], c)) != 6

    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    cb_rows = [(c, i, float(v[i])) for c, v in cands.items() for i in range(dim)]

    def run():
        cb = spark.createDataFrame(cb_rows, "cand long, i int, c double")
        full = emb.crossJoin(F.broadcast(C.cand_arrays(cb))).select(
            "vec_id", C.nearest(F.col("embedding"), F.col("cands")).alias("b")
        )
        subs = _nearest_codes(emb, cb, 2, dim, "vec_id", "embedding")
        return (
            {r.vec_id: (r.b.d2, r.b.cand) for r in full.collect()},
            {(r.vec_id, r.sub): (r.b.d2, r.b.cand) for r in subs.collect()},
        )

    got, got_sub = run()
    for vid, v in enumerate(vecs):
        assert got[vid] == _brute_nearest(v, cands, 0, dim)[0], vid
        for sub in (0, 1):
            lo = 4 * sub
            want = _brute_nearest(v, cands, lo, lo + 4)[0]
            assert got_sub[(vid, sub)] == want, (vid, sub)
    assert got[0][1] == 6
    assert got_sub[(0, 0)][1] == 6 and got_sub[(0, 1)][1] == 6

    monkeypatch.setenv("EHS_FAST_SUMS", "1")
    assert run() == (got, got_sub)


def test_pq_lut_and_adc_match_numpy_reference(spark, monkeypatch):
    """PQ scoring law: every entry of quantize._lut is the exact decimal
    fold of (rv − c)² over its subspace (NumPy terms, the fold replicated
    by quantize._dec18_fold), for a label-codebook query table and for
    per-cell residual tables of two qids that both probe cell 5; every
    quantize._adc score is the exact sum of its codes' entries, and the
    one (cid, sub, code) join fans cell 5's codes out to both qids. The
    double fold differs from the exact one on some of these entries, and
    under EHS_FAST_SUMS=1 the rows are the same: neither reads the switch."""
    import numpy as np

    from etl_housing_spark.operators import clustering as C
    from etl_housing_spark.operators import quantize as Q
    from etl_housing_spark.operators.quantize import _dec18_fold

    rng = np.random.default_rng(11)
    dim, per_sub, subspaces = 8, 4, 2
    cbv = {c: rng.normal(0, 0.5, dim) for c in range(6)}
    cents = {5: rng.normal(0, 1, dim), 6: rng.normal(0, 1, dim)}
    qv = {1: rng.normal(0, 1, dim), 2: rng.normal(0, 1, dim)}
    probes = [(1, 5), (2, 5), (2, 6)]
    cells = {10: 5, 11: 5, 12: 6}
    codes = [
        (vid, cid, s, int(rng.integers(0, 6))) for vid, cid in cells.items()
        for s in range(subspaces)
    ]

    def terms(x, s, c):
        lo = s * per_sub
        return ((x[lo : lo + per_sub] - cbv[c][lo : lo + per_sub]) ** 2).tolist()

    folds = []

    def exact(t):
        folds.append(t)
        return _dec18_fold(t, fast=False)

    want_q = {(s, c): exact(terms(qv[1], s, c)) for s in range(subspaces) for c in cbv}
    want_r = {
        (q, cid, s, c): exact(terms(qv[q] - cents[cid], s, c))
        for q, cid in probes for s in range(subspaces) for c in cbv
    }
    want_adc = {
        (q, vid): exact([want_r[(q, cid, s, code)] for v, _c, s, code in codes if v == vid])
        for q, cid in probes for vid, vcell in cells.items() if vcell == cid
    }
    assert set(want_adc) == {(1, 10), (1, 11), (2, 10), (2, 11), (2, 12)}
    assert any(_dec18_fold(t, fast=True) != _dec18_fold(t, fast=False) for t in folds)

    def run():
        cb = spark.createDataFrame(
            [(c, i, float(v[i])) for c, v in cbv.items() for i in range(dim)],
            "cand long, i int, c double",
        ).repartition(3)
        cbrows = C.sub_rows(cb, per_sub)
        emb = spark.createDataFrame([(0, qv[1].tolist())], "vec_id long, embedding array<double>")
        qsubs = Q._raw_subs(emb, [], subspaces, per_sub, "embedding")
        got_q = {(r.sub, r.cand): r.lut_d2 for r in Q._lut(qsubs, cbrows).collect()}
        pairs = spark.createDataFrame(
            [(q, cid, qv[q].tolist()) for q, cid in probes], "qid long, cid long, v array<double>"
        )
        cdf = spark.createDataFrame(
            [(cid, c.tolist()) for cid, c in cents.items()], "cid long, c array<double>"
        )
        lut = Q._lut(Q._residual_subs(pairs, cdf, subspaces, per_sub, "qid"), cbrows)
        got_r = {(r.qid, r.cid, r.sub, r.cand): r.lut_d2 for r in lut.collect()}
        cdf = spark.createDataFrame(codes, "vec_id long, cid long, sub int, code int")
        got_adc = {(r.qid, r.vec_id): r.adc_d2 for r in Q._adc(cdf, lut, "vec_id").collect()}
        return got_q, got_r, got_adc

    got = run()
    assert got == (want_q, want_r, want_adc)
    monkeypatch.setenv("EHS_FAST_SUMS", "1")
    assert run() == got


# ---------------------------------------------------------------- encode ----


def test_keyword_flags_order_sensitive_strip(spark):
    # 'dog park' must be tested before 'dog' or the strip changes the flags —
    # mirrors the reference's fixed keyword order (F15)
    df = spark.createDataFrame([(1, "Dog Park and pool")], "id long, details string")
    out = keyword_flags(df, "details", ["dog park", "dog", "pool"]).collect()[0]
    assert out.dog_park == 1 and out.pool == 1
    assert out.dog == 0  # stripped by 'dog park' before the 'dog' test


def test_get_dummies_drop_first(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id long, c string")
    out = get_dummies(df, "c", drop_first=True)
    assert "c_x" not in out.columns  # min value dropped (pandas parity)
    rows = {r.id: (r.c_y, r.c_z) for r in out.collect()}
    assert rows == {1: (0, 0), 2: (1, 0), 3: (0, 1)}


# ------------------------------------------------------------ multimodal ----


@pytest.fixture(scope="module")
def media(spark):
    base = spark.createDataFrame([(i, f"seed{i}") for i in range(20)], "id long, s string")
    return synthesize_media(base, "id", "s")


def test_media_schema(media):
    t = dict(media.dtypes)
    assert t["payload"] == "binary"
    assert t["meta"].startswith("struct<format:string,width:int,height:int")


def test_decode_matches_meta(media):
    decoded = decode_media(media)
    joined = decoded.join(media.select("media_id", "meta"), "media_id")
    bad = joined.filter(
        (F.col("width") != F.col("meta.width")) | (F.col("height") != F.col("meta.height"))
    )
    assert bad.count() == 0
    lumas = [r.mean_luma for r in decoded.collect()]
    assert all(0.0 <= x <= 1.0 for x in lumas)


def test_decode_strict_is_marked_stub(media):
    with pytest.raises(Exception, match="real image decode"):
        decode_media(media, strict=True).collect()


def test_decode_real_codec_png(spark):
    """Codec dispatch: a REAL PNG payload routes through the real-image
    branch — Pillow when importable, else the pure-stdlib PNG decoder
    (functions/png.py) — so this branch executes in codec-free containers
    too (the perpetual skip this test used to carry is gone). The synthetic
    path above covers the stub mode; together the two modes parametrize the
    decode boundary."""
    from etl_housing_spark.functions.png import encode_gray

    payload = encode_gray(5, 3, bytes([128] * 15))
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    r = decode_media(df).first()
    assert (r.width, r.height) == (5, 3)
    assert abs(r.mean_luma - 128 / 255.0) < 1e-9


def test_decode_real_codec_jpeg_with_pillow(spark):
    """The compressed-codec seam, exercised for real where the library IS
    installed (skip-unless-Pillow — the sqlite-jdbc conditional pattern of
    tests/test_sources.py): a genuine JPEG through the production
    decode_media stage must return Pillow's exact dimensions and the same
    grayscale mean _decode_real computes. Skips cleanly in codec-free
    containers; runs wherever a real deployment wires Pillow on workers."""
    import io

    from etl_housing_spark.operators.multimodal import pil_available

    if not pil_available():
        pytest.skip("Pillow absent — compressed-codec seam runs where installed")
    import numpy as np
    from PIL import Image

    pixels = bytes((i * 13) % 256 for i in range(12 * 9))
    buf = io.BytesIO()
    Image.frombytes("L", (12, 9), pixels).save(buf, format="JPEG", quality=95)
    payload = buf.getvalue()
    assert payload[:3] == b"\xff\xd8\xff"
    # expectation computed through the same decode (JPEG is lossy — the
    # contract is "whatever Pillow decodes", not the raw input bytes)
    expect = np.asarray(
        Image.open(io.BytesIO(payload)).convert("L"), dtype="float64"
    ).mean() / 255.0
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    r = decode_media(df).first()
    assert (r.width, r.height) == (12, 9)
    assert abs(r.mean_luma - expect) < 1e-12


def test_decode_real_codec_jpeg_without_pillow_is_marked(spark):
    """JPEG stays the declared Pillow boundary: without the library the
    decode raises the honest NotImplementedError instead of guessing."""
    from etl_housing_spark.operators.multimodal import pil_available

    if pil_available():
        pytest.skip("Pillow installed — the no-codec boundary is not reachable")
    fake_jpeg = b"\xff\xd8\xff" + b"\x00" * 32
    df = spark.createDataFrame([(1, bytearray(fake_jpeg))], "media_id long, payload binary")
    with pytest.raises(Exception, match="Pillow"):
        decode_media(df).collect()


def test_extract_features_shape(media):
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert all(len(r.features) == 8 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.features)
    # deterministic: same payload → same features
    again = {r.media_id: r.features for r in extract_features(media, dim=8).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_resize_stub_rewrites_meta_only(media):
    out = resize_stub(media, 64, 64)
    r = out.first()
    assert r.meta.width == 64 and r.meta.height == 64 and r.meta.format == "fake/v1"
    assert out.count() == media.count()


def _gray_png(width, height, fn):
    from etl_housing_spark.functions import png as _png

    return _png.encode_gray(
        width, height, bytes(fn(i) % 256 for i in range(width * height))
    )


def test_resize_media_nearest_neighbor_pixels(spark):
    # 4x2 gradient → 2x1: floor mapping picks src (y*2//1? no —) sy=y*h//H,
    # sx=x*w//W, so out(0,0)=src(0,0), out(0,1)=src(0,2)
    from etl_housing_spark.functions import png as _png

    src = bytes([10, 20, 30, 40, 50, 60, 70, 80])  # rows: [10,20,30,40],[50,60,70,80]
    df = spark.createDataFrame(
        [(1, bytearray(_png.encode_gray(4, 2, src)))], "media_id long, payload binary"
    )
    out = resize_media(df, 2, 1, strict=True).first()
    w, h, ch, samples = _png.decode(bytes(out.payload))
    assert (w, h, ch) == (2, 1, 1)
    assert list(samples) == [10, 30]
    assert (out.width, out.height) == (2, 1)


def test_resize_media_upscale_repeats_pixels(spark):
    from etl_housing_spark.functions import png as _png

    df = spark.createDataFrame(
        [(7, bytearray(_png.encode_gray(1, 1, bytes([99]))))],
        "media_id long, payload binary",
    )
    out = resize_media(df, 3, 2, strict=True).first()
    w, h, ch, samples = _png.decode(bytes(out.payload))
    assert (w, h) == (3, 2) and list(samples) == [99] * 6


def test_resize_media_nonstrict_passes_through_unsupported(spark, media):
    # fake/v1 payloads are not PNGs: non-strict passes bytes through with
    # NULL dims (the bytes were not resized — target dims would lie)
    out = resize_media(media, 8, 8, strict=False)
    orig = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = out.collect()
    assert {r.media_id: bytes(r.payload) for r in rows} == orig
    assert all(r.width is None and r.height is None for r in rows)


def test_resize_media_strict_raises_on_unsupported(spark, media):
    with pytest.raises(Exception, match="Pillow"):
        resize_media(media, 8, 8, strict=True).collect()


def test_decode_media_isolates_malformed_png_nonstrict(spark):
    # PNG magic + garbage body: stub row in non-strict mode, raise in strict
    bad = b"\x89PNG\r\n\x1a\n" + b"\x00\x00"
    good = _gray_png(4, 4, lambda i: i)
    df = spark.createDataFrame(
        [(1, bytearray(bad)), (2, bytearray(good))], "media_id long, payload binary"
    )
    rows = {r.media_id: r for r in decode_media(df).collect()}
    assert (rows[2].width, rows[2].height) == (4, 4)  # real decode
    assert rows[1].width > 0  # stubbed, not dead
    with pytest.raises(Exception, match="truncated"):
        decode_media(df, strict=True).collect()


def test_resize_media_isolates_malformed_payload_nonstrict(spark):
    # a PNG magic with garbage body must not kill the task in non-strict mode
    bad = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    good = _gray_png(4, 4, lambda i: i * 3)
    df = spark.createDataFrame(
        [(1, bytearray(bad)), (2, bytearray(good))], "media_id long, payload binary"
    )
    rows = {r.media_id: r for r in resize_media(df, 2, 2).collect()}
    assert bytes(rows[1].payload) == bad  # isolated, passed through
    assert rows[1].width is None  # unresized bytes: dims must not lie
    assert bytes(rows[2].payload) != good  # actually resized
    assert (rows[2].width, rows[2].height) == (2, 2)


def test_decode_media_isolates_short_and_pil_style_failures(spark):
    # <8-byte garbage without magic: digest stub, not struct.error death
    df = spark.createDataFrame(
        [(1, bytearray(b"xyz"))], "media_id long, payload binary"
    )
    r = decode_media(df).collect()[0]
    assert r.width > 0 and 0.0 <= r.mean_luma <= 1.0
    # zero-dimension PNG (consistent empty IDAT): codec rejects with
    # ValueError -> stub row in non-strict, raise in strict
    from etl_housing_spark.functions import png as _png
    import struct as _struct, zlib as _zlib

    ihdr = _struct.pack(">IIBBBBB", 0, 0, 8, 0, 0, 0, 0)
    zdim = (
        b"\x89PNG\r\n\x1a\n"
        + _png._chunk(b"IHDR", ihdr)
        + _png._chunk(b"IDAT", _zlib.compress(b""))
        + _png._chunk(b"IEND", b"")
    )
    df2 = spark.createDataFrame(
        [(1, bytearray(zdim))], "media_id long, payload binary"
    )
    assert decode_media(df2).count() == 1  # stubbed, task alive
    with pytest.raises(Exception, match="zero dimension"):
        decode_media(df2, strict=True).collect()
    out = resize_media(df2, 2, 2).collect()[0]  # resize isolates it too
    assert out.width is None


def test_minhash_estimate_tracks_true_jaccard(spark):
    # known-overlap token sets: |A∩B| = 30, |A∪B| = 70 → J = 3/7 ≈ 0.4286
    shared = [f"s{i}" for i in range(30)]
    a_only = [f"a{i}" for i in range(20)]
    b_only = [f"b{i}" for i in range(20)]
    df = spark.createDataFrame(
        [(1, " ".join(shared + a_only)), (2, " ".join(shared + b_only))],
        "doc_id long, text string",
    )
    pairs = minhash_near_dups(df, "doc_id", "text", num_hashes=64, bands=32, threshold=0.0)
    est = pairs.collect()[0].est_jaccard
    true_j = 30 / 70
    # 64-hash signature: stddev ≈ sqrt(J(1-J)/64) ≈ 0.062; allow 3σ
    assert abs(est - true_j) < 0.19


def test_dedup_clusters_chain_converges(spark):
    from etl_housing_spark.operators.dedup import canonicalize, dedup_clusters

    # chain 1-2-3-4 (diameter 3: needs >1 propagation round) + island 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    labels = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id
        for r in canonicalize(corpus, dedup_clusters(pairs), "doc_id").collect()
    )
    assert kept == [1, 10, 99]  # canonical per cluster + untouched singleton


def test_dedup_clusters_end_to_end_with_minhash(docs):
    from etl_housing_spark.operators.dedup import canonicalize, dedup_clusters

    pairs = minhash_near_dups(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.9)
    kept = canonicalize(docs, dedup_clusters(pairs), "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 2, 3]  # 4 (exact dup of 1) collapsed into 1


def test_ivf_recall_on_testdata(spark):
    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.similarity import (
        ivf_topk,
        lsh_bucket,
        topk_bruteforce,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    truth = {r.vec_id for r in topk_bruteforce(emb, query_id=0, k=10).collect()}
    # probing every cell must reproduce the exact top-k whatever the quantizer
    got_full = {r.vec_id for r in ivf_topk(emb, query_id=0, k=10, nprobe=100).collect()}
    assert got_full == truth
    # a GEOMETRIC quantizer (hyperplane buckets) keeps neighbors co-celled:
    # probing 2 of 4 cells must beat the 25% a random split would give
    cells = emb.withColumn("cell", lsh_bucket(F.col("embedding"), dim=64, planes=2))
    got = {r.vec_id for r in ivf_topk(cells, query_id=0, k=10, nprobe=2, cell_col="cell").collect()}
    recall = len(got & truth) / 10
    assert recall >= 0.5


def test_lsh_multitable_recall(spark):
    """Multi-table LSH recall vs the exact all-pairs form at sf0.01 (500
    vectors, 59 true pairs at cos≥0.4). planes=4/tables=16 — the
    q_embed_neardup_lsh production setting — must recall ≥0.9, and recall
    must be monotone-ish in table count (the whole point of the union)."""
    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.similarity import exact_neardup_pairs, lsh_neardup_pairs

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {(r.id_a, r.id_b) for r in exact_neardup_pairs(emb, threshold=0.4).collect()}
    assert len(exact) > 0

    one = {(r.id_a, r.id_b) for r in
           lsh_neardup_pairs(emb, threshold=0.4, planes=4, tables=1).collect()}
    many = {(r.id_a, r.id_b) for r in
            lsh_neardup_pairs(emb, threshold=0.4, planes=4, tables=16).collect()}
    # every LSH pair is a true pair (precision 1.0: cosine verified post-bucket)
    assert one <= exact and many <= exact
    assert len(many & exact) / len(exact) >= 0.9
    assert len(many) >= len(one)


def test_deterministic_split_properties(spark):
    """Hash split: labels partition the rows, fractions are approximately
    honored, assignment is identical across invocations AND invariant under
    repartitioning (the property rand() cannot give)."""
    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.sampling import deterministic_split

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = deterministic_split(docs, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert abs(counts["train"] / n - 0.8) < 0.03
    assert abs(counts["val"] / n - 0.1) < 0.02
    assert abs(counts["test"] / n - 0.1) < 0.02

    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in deterministic_split(docs.repartition(13), ["doc_id"]).select("doc_id", "split").collect()
    }
    assert a == b  # partitioning-invariant assignment

    # a different salt derives an independent assignment from the same keys
    salted = deterministic_split(docs, ["doc_id"], salt="v2")
    c = {(r.doc_id, r.split) for r in salted.select("doc_id", "split").collect()}
    assert c != a and {x[0] for x in c} == {x[0] for x in a}


def test_deterministic_split_rejects_bad_fractions(spark):
    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.sampling import deterministic_split

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    with pytest.raises(ValueError, match="sum to 1"):
        deterministic_split(docs, ["doc_id"], {"train": 0.5, "test": 0.1})


def test_sample_per_key_deterministic_and_bounded(spark):
    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.sampling import sample_per_key

    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    s1 = sample_per_key(orders, ["o_custkey"], ["o_orderkey"], k=3)
    per_key = s1.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    assert per_key.filter(F.col("n") > 3).count() == 0
    # keys with ≤3 orders keep everything (it's a sample, not a filter)
    small = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("tot")).filter(F.col("tot") <= 3)
    kept = per_key.join(small, "o_custkey").filter(F.col("n") != F.col("tot"))
    assert kept.count() == 0
    a = {(r.o_custkey, r.o_orderkey) for r in s1.collect()}
    b = {(r.o_custkey, r.o_orderkey)
         for r in sample_per_key(orders.repartition(7), ["o_custkey"], ["o_orderkey"], k=3).collect()}
    assert a == b


def test_scalar_quantize_reconstruction_bound(spark):
    """SQ8 guarantee: |x - dequant(code)| ≤ (hi-lo)/(2·levels) + ε per dim."""
    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.quantize import dequantize_error, scalar_quantize

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    errs = dequantize_error(emb, levels=255).collect()
    assert len(errs) == 64
    for r in errs:
        assert r.max_err <= r.scale / (2 * 255) * (1 + 1e-9), (r.pos, r.max_err, r.scale)
    codes = scalar_quantize(emb, levels=255)
    rng = codes.agg(F.min("code").alias("lo"), F.max("code").alias("hi")).first()
    assert rng.lo >= 0 and rng.hi <= 255
    # every (vec, pos) coded exactly once
    n = emb.count()
    assert codes.count() == n * 64


def test_exact_neardup_guard_refuses_large_input(spark):
    """The O(n²) exact path must refuse inputs above max_rows."""
    import pytest

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.similarity import exact_neardup_pairs

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    with pytest.raises(ValueError, match="O\\(n²\\)"):
        exact_neardup_pairs(emb, threshold=0.4, max_rows=10)
    # explicit opt-out works
    assert exact_neardup_pairs(emb.limit(20), threshold=-1.0, max_rows=None).count() > 0


# ---------------------------------------------------------------------------
# incremental rollup state (operators/incremental.py)
# ---------------------------------------------------------------------------


def test_incremental_state_merge_is_order_independent_and_exact(spark):
    from etl_housing_spark.operators.incremental import finalize, merge_states, rollup_state

    rows = [("a", 1.5), ("a", 2.5), ("b", -1.0), ("a", 10.0), ("b", 4.0), ("c", 0.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    full = {r.k: (r.n, r.sum_v, r.avg_v, r.min_v, r.max_v)
            for r in finalize(rollup_state(df, ["k"], "v")).collect()}

    p1, p2, p3 = df.limit(2), df.offset(2).limit(2), df.offset(4)
    for order in [(p1, p2, p3), (p3, p1, p2), (p2, p3, p1)]:
        states = [rollup_state(p, ["k"], "v") for p in order]
        inc = {r.k: (r.n, r.sum_v, r.avg_v, r.min_v, r.max_v)
               for r in finalize(merge_states(*states)).collect()}
        assert inc == full  # bit-exact, any merge order


# ---------------------------------------------------------------------------
# expectations (operators/expect.py)
# ---------------------------------------------------------------------------


def test_expectations_counts_and_single_scan(spark):
    from etl_housing_spark.operators import expect as X

    df = spark.createDataFrame(
        [
            (1, "O", 10.0, "1-URGENT"),
            (2, None, -5.0, "9-BOGUS"),
            (2, "Z", None, None),
        ],
        "k long, status string, price double, prio string",
    )
    out = X.check(
        df,
        {
            "null_status": X.not_null("status"),
            "bad_status": X.in_set("status", ["O", "F"]),
            "neg_price": X.in_range("price", lo=0),
            "bad_prio": X.matches("prio", "^[1-5]-"),
        },
        unique_on=["k"],
    )
    r = out.collect()[0]
    assert (r.null_status, r.bad_status, r.neg_price, r.bad_prio, r.dup_k) == (1, 2, 2, 2, 1)
    # the whole contract must be ONE aggregate over one scan (AQE's
    # toString repeats the tree as "Initial Plan" — inspect the final only)
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan")[0]
    assert plan.count("Scan ") == 1


# ---------------------------------------------------------------------------
# compaction (sources/warehouse.py)
# ---------------------------------------------------------------------------


def test_compact_table_reduces_files_and_preserves_rows(spark, tmp_path):
    import glob

    from etl_housing_spark.sources.warehouse import compact_table

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS g")
    df.repartition(40).write.parquet(path)  # simulate micro-batch accretion
    assert len(glob.glob(path + "/*.parquet")) == 40

    n_files = compact_table(spark, path, target_rows_per_file=5_000)
    assert n_files == 2
    assert len(glob.glob(path + "/*.parquet")) == 2
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.groupBy().sum("id").collect()[0][0] == sum(range(10_000))


def test_compacted_large_files_have_multiple_rowgroups(spark, tmp_path):
    """Write-side row-group contract (SCALE.md r14: the writer controls the
    reader's parallelism): a compacted table whose files exceed the block
    size must carry >1 row group per large file — and the checker must
    reject a deliberately-monolithic file. Exercised at a 64 KiB block so
    the test stays small; the law is size-relative."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_housing_spark.sources.warehouse import (
        assert_rowgroup_layout,
        compact_table,
    )

    path = str(tmp_path / "wide")
    spark.range(0, 40_000).selectExpr(
        "id", "repeat('x', 32) AS pad"
    ).repartition(8).write.parquet(path)
    block = 64 * 1024
    # one output file of ~40k * ~40B >> 1.5 * 64 KiB
    compact_table(spark, path, target_rows_per_file=1_000_000, block_bytes=block)
    report = assert_rowgroup_layout(path, block_bytes=block)
    assert report["large_files"] >= 1
    back = spark.read.parquet(path)
    assert back.count() == 40_000

    # negative control: a single-row-group monolith must be rejected
    mono = tmp_path / "mono"
    mono.mkdir()
    tbl = pa.table({"id": list(range(50_000)), "pad": ["y" * 32] * 50_000})
    pq.write_table(
        tbl, str(mono / "part-0.parquet"), row_group_size=50_000,
        compression="none",
    )
    try:
        assert_rowgroup_layout(str(mono), block_bytes=block)
        raise AssertionError("monolith passed the row-group contract")
    except ValueError as e:
        assert "single-row-group" in str(e)


def test_observed_write_counts_without_second_scan(spark, tmp_path):
    """observed_write must return the same violation counts check() computes,
    from the write job itself — verified by scan-counting the executed plan."""
    from etl_housing_spark.operators import expect

    df = spark.createDataFrame(
        [(1, "a", 5), (2, None, -1), (3, "b", 7), (3, "c", 999)],
        "id long, name string, qty long",
    )
    exps = {
        "null_name": expect.not_null("name"),
        "qty_range": expect.in_range("qty", 0, 100),
    }
    out = str(tmp_path / "staged")
    got = expect.observed_write(
        df, lambda d: d.write.mode("overwrite").parquet(out), exps, name="obs_t"
    )
    assert got["rows"] == 4 and got["null_name"] == 1 and got["qty_range"] == 2
    # parity with the standalone one-pass checker
    standalone = expect.check(df, exps).first()
    assert standalone.null_name == got["null_name"] and standalone.qty_range == got["qty_range"]
    # and the data landed intact
    assert spark.read.parquet(out).count() == 4


def test_ewma_laws(spark):
    from etl_housing_spark.operators.smoothing import ewma_by_key

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 10.0), (2, 1, 5.0), (2, 2, 5.0), (2, 3, 5.0)],
        "k long, t long, v double",
    )
    out = {(r.k, r.t): r.ewma for r in ewma_by_key(df, "k", ["t"], "v", alpha=0.5).collect()}
    # hand-computed: 10; 0.5*20+0.5*10=15; 0.5*10+0.5*15=12.5
    assert out[(1, 1)] == 10.0 and out[(1, 2)] == 15.0 and out[(1, 3)] == 12.5
    # constant series is a fixed point
    assert out[(2, 1)] == out[(2, 2)] == out[(2, 3)] == 5.0
    # alpha=1 degenerates to the raw series
    raw = {(r.k, r.t): r.ewma for r in ewma_by_key(df, "k", ["t"], "v", alpha=1.0).collect()}
    assert raw == {(1, 1): 10.0, (1, 2): 20.0, (1, 3): 10.0, (2, 1): 5.0, (2, 2): 5.0, (2, 3): 5.0}
    # partitioning invariance: the fold happens per-group AFTER the shuffle,
    # so shuffle-partition count cannot move any value
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        one = sorted(map(tuple, ewma_by_key(df, "k", ["t"], "v", alpha=0.3).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        many = sorted(map(tuple, ewma_by_key(df, "k", ["t"], "v", alpha=0.3).collect()))
        assert one == many
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # bad alpha refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ewma_by_key(df, "k", ["t"], "v", alpha=0.0)


def test_ewma_portable_binds_operator_series(spark):
    """q_ewma_portable's final-value digest must equal the LAST row of
    q_ewma's applyInPandas series per user (same alpha=0.3, same (ts,
    event_id) order) — the binding that makes the hash-green twin a check
    on the rows-only operator, not a parallel definition. Tolerance covers
    only the two folds' differing FP evaluation trees (pandas ewm vs the
    0.3*x + 0.7*a aggregate); the recurrence and ordering must agree."""
    from etl_housing_spark.plans import all_queries

    import pytest as _pytest

    from tests.conftest import SF_CORRECT

    specs = all_queries()
    sf = SF_CORRECT
    series = specs["q_ewma"].fn(spark, sf).collect()
    last: dict[int, tuple] = {}
    for r in series:
        key = (r.ts, r.event_id)
        if r.user_id not in last or key > last[r.user_id][0]:
            last[r.user_id] = (key, r.ewma)
    digest = {r.user_id: (r.n_events, r.ewma_final)
              for r in specs["q_ewma_portable"].fn(spark, sf).collect()}
    assert set(digest) == set(last)
    counts: dict[int, int] = {}
    for r in series:
        counts[r.user_id] = counts.get(r.user_id, 0) + 1
    for uid, (n, final) in digest.items():
        assert n == counts[uid]
        assert final == _pytest.approx(last[uid][1], rel=1e-12)


@pytest.mark.parametrize("isolated", [(), (6,)], ids=["endpoints", "isolated_node"])
def test_pagerank_matches_numpy_power_iteration(spark, isolated):
    """operators/graph.py pagerank vs a dense NumPy power iteration with the
    identical dangling-mass-redistribution update, on a graph that exercises
    every branch: a cycle, a hub, a dangling node (5→ nothing), and a node
    with no in-edges (4). With ``isolated``, a ``nodes`` frame adds node 6,
    which has no edge at all: dangling, in-degree 0."""
    import numpy as np

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3)][:5] + [(3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    from etl_housing_spark.operators.graph import degree_stats, pagerank

    iters, d = 12, 0.85
    nodes = sorted({n for e in edges for n in e} | set(isolated))
    node_df = (
        spark.createDataFrame([(n_,) for n_ in nodes], "node long") if isolated else None
    )
    got = {
        r.node: r.rank
        for r in pagerank(df, iterations=iters, damping=d, nodes=node_df).collect()
    }
    assert sorted(got) == nodes

    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _t in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        recv = np.zeros(n)
        for s, t in edges:
            recv[idx[t]] += r[idx[s]] / out[idx[s]]
        dmass = r[out == 0].sum()
        r = (1 - d) / n + d * (recv + dmass / n)
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, (node, got[node], r[idx[node]])
    # conservation: ranks are a distribution
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the hub (3) must outrank the no-in-edge node (4)
    assert got[3] > got[4]

    deg = {r_.node: (r_.out_deg, r_.in_deg) for r_ in degree_stats(df).collect()}
    assert deg[3] == (2, 3) and deg[4] == (1, 0) and deg[5] == (0, 1)


def test_label_propagation_crosses_checkpoint_boundaries(spark):
    """label_propagation past two checkpoint boundaries (iterations=9) vs a
    pure-Python synchronous majority vote with the same count-desc,
    label-asc tie-break; after one action the resident generations stay
    within operators/_ckpt.Generations' stated bound."""
    from etl_housing_spark.operators._ckpt import (
        CHECKPOINT_EVERY,
        _persistent_ids,
        clear_pipeline_cache,
    )
    from etl_housing_spark.operators.graph import label_propagation

    # a 24-node path in both directions, plus chords and a duplicated edge
    # that make vote ties; labels still change in rounds 5-7, past the
    # first checkpoint boundary
    n = 24
    edges = [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)]
    edges += [(0, 5), (23, 5), (3, 12), (12, 3), (20, 9), (20, 9), (17, 9)]
    fixed = {0: "b", 23: "a", 12: "c", 20: "a"}
    seeds = [(v, fixed.get(v), v in fixed) for v in range(n)]
    iters = 9

    lab = {v: lb for v, lb, _ in seeds}
    for _ in range(iters):
        votes: dict[int, dict[str, int]] = {}
        for s, t in edges:
            if lab[s] is not None:
                votes.setdefault(t, {}).setdefault(lab[s], 0)
                votes[t][lab[s]] += 1
        lab = {
            v: lb
            if v in fixed or v not in votes
            else min(votes[v].items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for v, lb in lab.items()
        }

    clear_pipeline_cache(blocking=True)
    before = _persistent_ids(spark)
    out = label_propagation(
        spark.createDataFrame(edges, "src long, dst long"),
        spark.createDataFrame(seeds, "node long, label string, fixed boolean"),
        iterations=iters,
    )
    got = {r.node: r.label for r in out.collect()}
    assert got == lab
    # the persisted edge table plus at most CHECKPOINT_EVERY + 1 generations
    resident = _persistent_ids(spark) - before
    assert 2 <= len(resident) <= 1 + CHECKPOINT_EVERY + 1, resident
    clear_pipeline_cache(blocking=True)


def test_phash_media_known_patterns(spark):
    from etl_housing_spark.operators.multimodal import phash_media

    # flat image: no pixel exceeds its neighbor -> all 64 bits zero
    flat = _gray_png(9, 8, lambda i: 100)
    # strictly decreasing rows: every left pixel > right pixel -> all bits set
    desc = _gray_png(9, 8, lambda i: 255 - (i % 9) * 20)
    df = spark.createDataFrame(
        [(1, bytearray(flat)), (2, bytearray(desc)), (3, bytearray(flat))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in phash_media(df, strict=True).collect()}
    assert rows[1].n_set_bits == 0 and rows[1].phash_hi == 0 and rows[1].phash_lo == 0
    assert rows[2].n_set_bits == 64
    assert rows[2].phash_hi == 0xFFFFFFFF and rows[2].phash_lo == 0xFFFFFFFF
    # identical payloads -> identical hash (the dedup property)
    assert (rows[1].phash_hi, rows[1].phash_lo) == (rows[3].phash_hi, rows[3].phash_lo)


def test_phash_media_isolation_and_size_contract(spark):
    from etl_housing_spark.operators.multimodal import phash_media

    wrong_size = _gray_png(4, 4, lambda i: i)
    df = spark.createDataFrame(
        [(1, bytearray(wrong_size))], "media_id long, payload binary"
    )
    r = phash_media(df).collect()[0]  # non-strict: NULL row, task alive
    assert r.phash_hi is None and r.n_set_bits is None
    with pytest.raises(Exception, match="9x8"):
        phash_media(df, strict=True).collect()


def test_audio_fingerprint_contour_and_isolation(spark):
    from etl_housing_spark.functions.wav import encode_pcm16
    from etl_housing_spark.operators.multimodal import audio_fingerprint

    # rising energy staircase: |v| grows by window -> every contour bit set
    rising = [((i // 10) + 1) * 100 for i in range(80)]  # 8 windows of 10
    flat = [50] * 80  # equal energies -> strict > never fires -> fp 0
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_pcm16(8000, rising))),
            (2, bytearray(encode_pcm16(8000, flat))),
            (3, bytearray(encode_pcm16(8000, rising))),
            (4, bytearray(b"RIFF\x00\x00\x00\x00WAVE")),  # malformed
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in audio_fingerprint(df).collect()}
    assert rows[1].fp == 0b1111111
    assert rows[2].fp == 0
    assert rows[1].fp == rows[3].fp  # identical clips -> identical fp
    assert rows[4].fp is None  # malformed isolated, task alive
    with pytest.raises(Exception):
        audio_fingerprint(df, strict=True).collect()


def test_corr_fast_matches_portable_within_fp(spark):
    """The production Gram path must agree with the hash-checked exact twin
    to float rounding: at 6dp output precision, at most a last-digit flip
    from the partitioning-dependent float64 accumulation."""
    from etl_housing_spark.plans import all_queries

    SP = all_queries()
    sf = "/root/testdata/sf0.001"
    fast = {
        (r.i, r.j): r.corr for r in SP["q_corr_matrix_fast"].fn(spark, sf).collect()
    }
    exact = {
        (r.i, r.j): r.corr for r in SP["q_corr_matrix"].fn(spark, sf).collect()
    }
    assert fast.keys() == exact.keys() and len(fast) == 2016
    worst = max(abs(fast[k] - exact[k]) for k in fast)
    assert worst <= 1.1e-6, f"fast/exact corr diverged by {worst}"


def test_video_fingerprint_contour_and_isolation(spark):
    from etl_housing_spark.functions.avi import encode_rgb24
    from etl_housing_spark.operators.multimodal import video_fingerprint

    dim = 4 * 3 * 3  # w*h*3 channel bytes per frame
    dark = bytes([10] * dim)
    bright = bytes([200] * dim)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_rgb24(4, 3, [dark, bright, dark]))),   # up, down
            (2, bytearray(encode_rgb24(4, 3, [bright, bright]))),       # flat
            (3, bytearray(encode_rgb24(4, 3, [dark, bright, dark]))),
            (4, bytearray(b"RIFF\x00\x00\x00\x00AVI junk")),            # malformed
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in video_fingerprint(df).collect()}
    assert rows[1].fp == 0b01  # bit 0 set (rise), bit 1 clear (fall)
    assert rows[2].fp == 0  # equal frames: strict > never fires
    assert rows[1].fp == rows[3].fp and rows[1].e_total == rows[3].e_total
    assert rows[4].fp is None  # malformed isolated
    with pytest.raises(Exception):
        video_fingerprint(df, strict=True).collect()


def test_corr_matrix_fast_plan_has_no_explode(spark):
    """The production Gram path's whole point: no per-pair explode —
    the plan must contain no Generate node and no decimal arithmetic."""
    from etl_housing_spark.plans import all_queries

    df = all_queries()["q_corr_matrix_fast"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # explode-free


def test_resize_media_resamples_color_pngs(spark):
    from etl_housing_spark.functions import png as _png

    # 2x1 RGB: left red, right blue -> resize to 1x1 keeps the left pixel
    rgb = bytes([255, 0, 0, 0, 0, 255])
    df = spark.createDataFrame(
        [(1, bytearray(_png.encode_rgb(2, 1, rgb)))], "media_id long, payload binary"
    )
    out = resize_media(df, 1, 1, strict=True).first()
    w, h, ch, samples = _png.decode(bytes(out.payload))
    assert (w, h, ch) == (1, 1, 3) and list(samples) == [255, 0, 0]


def test_pca_fast_matches_portable_within_fp(spark):
    from etl_housing_spark.plans import all_queries

    SP = all_queries()
    sf = "/root/testdata/sf0.001"
    fast = {r.i: r for r in SP["q_pca_power_fast"].fn(spark, sf).collect()}
    exact = {r.i: r for r in SP["q_pca_power_portable"].fn(spark, sf).collect()}
    assert len(fast) == 64
    worst = max(abs(fast[i].loading - exact[i].loading) for i in fast)
    assert worst <= 1.1e-6, f"fast/portable loadings diverged by {worst}"
    assert abs(fast[1].eigval_est - exact[1].eigval_est) <= 1.1e-6


def test_null_payload_isolated_in_every_fingerprint_stage(spark):
    """A NULL payload must stub to a NULL output row (not TypeError the
    whole task) in non-strict mode, in every media stage — the same
    one-bad-row contract as malformed bytes; frame_sample drops the
    payload's frames. Strict mode raises on the NULL row itself."""
    from etl_housing_spark.operators.multimodal import (
        audio_fingerprint,
        decode_audio,
        decode_media,
        decode_video,
        extract_features,
        frame_sample,
        phash_media,
        resize_media,
        video_fingerprint,
    )

    good = _gray_png(9, 8, lambda i: i)
    df = spark.createDataFrame(
        [(1, None), (2, bytearray(good))], "media_id long, payload binary"
    )
    r = {x.media_id: x for x in resize_media(df, 2, 2).collect()}
    assert r[1].payload is None and r[1].width is None
    assert (r[2].width, r[2].height) == (2, 2)
    p = {x.media_id: x for x in phash_media(df).collect()}
    assert p[1].phash_hi is None and p[2].n_set_bits is not None
    a = {x.media_id: x for x in audio_fingerprint(df).collect()}
    assert a[1].fp is None
    v = {x.media_id: x for x in video_fingerprint(df).collect()}
    assert v[1].fp is None
    d = {x.media_id: x for x in decode_media(df).collect()}
    assert d[1].width is None and d[1].mean_luma is None
    assert (d[2].width, d[2].height) == (9, 8)
    au = {x.media_id: x for x in decode_audio(df).collect()}
    assert au[1].n_samples is None and au[1].rms is None
    assert au[2].sample_rate == 8000  # PNG bytes take the audio stub
    vi = {x.media_id: x for x in decode_video(df).collect()}
    assert vi[1].n_frames is None and vi[2].n_frames is not None
    f = {x.media_id: x for x in extract_features(df).collect()}
    assert f[1].features is None and len(f[2].features) == 8
    framed = df.withColumn("meta", F.struct(F.lit(2).alias("n_frames")))
    fs = frame_sample(framed, every_n=1).collect()
    assert sorted((x.media_id, x.frame_idx) for x in fs) == [(2, 0), (2, 1)]
    # strict mode: the NULL row itself is the error (NULL-only frame so a
    # format mismatch on the good row can't mask it)
    nulls = spark.createDataFrame([(1, None)], "media_id long, payload binary")
    for stage in (
        lambda d: resize_media(d, 2, 2, strict=True),
        lambda d: phash_media(d, strict=True),
        lambda d: audio_fingerprint(d, strict=True),
        lambda d: video_fingerprint(d, strict=True),
        lambda d: decode_media(d, strict=True),
        lambda d: decode_audio(d, strict=True),
        lambda d: decode_video(d, strict=True),
        lambda d: frame_sample(
            d.withColumn("meta", F.struct(F.lit(2).alias("n_frames"))), strict=True
        ),
    ):
        with pytest.raises(Exception, match="NULL payload"):
            stage(nulls).collect()


def test_audio_fingerprint_contour_bits_capped_at_63(spark):
    """n_windows > 64 must clamp contour bits to positions 0..62 so the
    signed Int64 fp column never overflows at Arrow conversion — the
    video path's guard, mirrored (ADVICE r10)."""
    from etl_housing_spark.functions.wav import encode_pcm16
    from etl_housing_spark.operators.multimodal import audio_fingerprint

    # 70 windows of 2 samples each, strictly rising |v| -> every contour
    # comparison fires; uncapped that would set bit 63+ and overflow
    rising = [(i // 2 + 1) * 10 for i in range(140)]
    df = spark.createDataFrame(
        [(1, bytearray(encode_pcm16(8000, rising)))], "media_id long, payload binary"
    )
    r = audio_fingerprint(df, n_windows=70, strict=True).collect()[0]
    assert r.fp == (1 << 63) - 1  # bits 0..62 set, bit 63 never


def test_bigint_stays_exact_beside_a_null_row_in_one_batch(spark):
    """A BIGINT above 2**53 sharing an Arrow batch with a NULL output row
    must ship exactly: building the column through float64 (NaN for the
    NULL) rounds it, and the nullable-int cast then kills the task."""
    from etl_housing_spark.functions.wav import encode_pcm16
    from etl_housing_spark.operators.multimodal import audio_fingerprint

    rising = [(i // 2 + 1) * 10 for i in range(140)]
    df = spark.createDataFrame(
        [(1, bytearray(encode_pcm16(8000, rising))), (2, bytearray(b"junk"))],
        "media_id long, payload binary",
    ).coalesce(1)
    rows = {r.media_id: r.fp for r in audio_fingerprint(df, n_windows=70).collect()}
    assert rows == {1: (1 << 63) - 1, 2: None}


def test_oph_densification_fills_every_bin(spark):
    """A one-shingle doc occupies exactly one bin; rotation densification
    must fill the other 15 with base + 2^33*distance — never NULL."""
    from etl_housing_spark.plans import all_queries

    # plants via a temp view is heavier than calling the query fn on a tiny
    # frame: drive the same expression stack through a direct build
    from etl_housing_spark.plans.dedup_queries import _OPH_C, _OPH_K

    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    df.createOrReplaceTempView("_oph_docs")
    h = F.conv(F.substring(F.md5(F.lit("solo")), 1, 8), 16, 10).cast("long")
    base = spark.range(1).select(h.alias("h")).collect()[0].h
    home = base % _OPH_K
    # run the registered query impl against a fake sf_dir via monkeypatched
    # loader is overkill: replicate with the public helper instead
    from etl_housing_spark.plans.dedup_queries import q_minhash_oph_portable

    # the shingle explode now flows through the family-shared helper, so
    # the plant goes into pipeline_queries' loader
    import etl_housing_spark.plans.pipeline_queries as PQ

    orig = PQ.load_table
    try:
        PQ.load_table = lambda s, d, n: df
        row = q_minhash_oph_portable(spark, "unused").collect()[0]
    finally:
        PQ.load_table = orig
    for i in range(_OPH_K):
        d = (home - i) % _OPH_K
        assert row[f"sig_{i}"] == base + d * _OPH_C, f"bin {i}"


def test_oph_estimate_tracks_true_jaccard(spark):
    """OPH agreement must estimate Jaccard like the k-wise scheme when docs
    have plenty of shingles (bins well occupied): planted J = 3/7."""
    import pyspark.sql.functions as F

    import etl_housing_spark.plans.dedup_queries as DQ
    from etl_housing_spark.plans.dedup_queries import q_minhash_oph_portable

    shared = [f"s{i}" for i in range(60)]
    a_only = [f"a{i}" for i in range(40)]
    b_only = [f"b{i}" for i in range(40)]
    df = spark.createDataFrame(
        [(1, " ".join(shared + a_only)), (2, " ".join(shared + b_only))],
        "doc_id long, text string",
    )
    import etl_housing_spark.plans.pipeline_queries as PQ

    orig = PQ.load_table
    try:
        PQ.load_table = lambda s, d, n: df
        sigs = {r.doc_id: [r[f"sig_{i}"] for i in range(16)]
                for r in q_minhash_oph_portable(spark, "unused").collect()}
    finally:
        PQ.load_table = orig
    agree = sum(1 for x, y in zip(sigs[1], sigs[2]) if x == y) / 16
    # word 3-grams over the concatenation: the shared prefix yields ~58
    # common shingles of ~98 per doc -> J ~ 0.42; 16 slots: sd ~ 0.14, 3sd
    assert 0.0 < agree < 0.95
    assert abs(agree - 0.42) < 0.42  # very loose: just not degenerate


def test_pq_residual_codebooks_shape_and_bounds(spark):
    """Residual-trained PQ codebooks: per-subspace entries are complete
    (every surviving candidate covers all per_sub dims of its subspace),
    capped at kpq candidates, and bounded by the observed residual range
    (a mean of residuals cannot leave their hull)."""
    from pyspark.sql import functions as F

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.clustering import kmeans_fit
    from etl_housing_spark.operators.quantize import (
        _residual_long,
        pq_residual_codebooks,
    )

    vecs = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n = vecs.count()
    assigned, cents = kmeans_fit(vecs, k=23)
    assigned = assigned.cache()
    cb = pq_residual_codebooks(assigned, cents, n, subspaces=16, dim=64).cache()
    cover = (
        cb.withColumn("sub", F.expr("i div 4"))
        .groupBy("cand", "sub")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    assert cover.filter(F.col("nd") != 4).count() == 0
    assert cb.select("cand").distinct().count() <= 256
    rng = (
        _residual_long(assigned, cents, 4)
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    viol = cb.join(rng, "i").filter(
        (F.col("c") < F.col("lo") - 1e-12) | (F.col("c") > F.col("hi") + 1e-12)
    )
    assert viol.count() == 0
    cb.unpersist(); assigned.unpersist()


def test_ivfpq_scaled_exact_duplicates_rank_first(spark, tmp_path):
    """Tiny-corpus law: exact duplicates of the query vector come back
    first with exact_d2 = 0, and the scaled-index knobs are computed from
    the corpus (k = ceil(sqrt(n)), nprobe = ceil(2*sqrt(k)) — the r15
    sweep-adopted operating point)."""
    from pyspark.sql import functions as F

    from etl_housing_spark.operators.quantize import ivfpq_scaled_topk

    e1 = [1.0] + [0.0] * 63
    e2 = [0.0] * 63 + [1.0]
    e3 = [0.0] * 31 + [1.0] + [0.0] * 32
    rows = [(0, e1, 0), (1, e1, 0), (2, e1, 0), (10, e2, 1), (11, e2, 1), (20, e3, 2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    vecs = df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    out = ivfpq_scaled_topk(vecs, k=10, query_id=0).collect()
    assert all(r.k == 3 and r.nprobe == 4 for r in out)  # ceil(sqrt(6)), ceil(2*sqrt(3))
    got = [(r.vec_id, r.exact_d2) for r in out]
    # the three identical vectors (query included) lead at distance 0
    assert got[0] == (0, 0.0) and got[1] == (1, 0.0) and got[2] == (2, 0.0)
    # everything returned is exactly scored: d2(e1, e2) = 2
    for vid, d2 in got[3:]:
        assert d2 == 2.0, (vid, d2)


def test_incremental_assign_pointwise_law(spark):
    """Incremental-index law (VERDICT r13 item 2): assignment is pointwise,
    so assigning a batch against frozen centroids equals the full
    re-assignment of (old ∪ batch) restricted to the batch — serving
    between refits returns exactly what a rebuild would, for rows the
    cells already cover."""
    from pyspark.sql import functions as F

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.clustering import kmeans_assign, kmeans_fit

    vecs = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    old = vecs.filter(F.col("vec_id") % 10 < 8)
    batch = vecs.filter(F.col("vec_id") % 10 >= 8)
    _a, cents = kmeans_fit(old, k=20, rounds=2)
    cents = cents.cache()
    inc = {r.vec_id: r.cid for r in kmeans_assign(batch, cents).collect()}
    full = {
        r.vec_id: r.cid
        for r in kmeans_assign(vecs, cents).filter(F.col("vec_id") % 10 >= 8).collect()
    }
    assert inc == full and len(inc) > 0
    cents.unpersist()


def test_refit_due_flag_fires_on_outgrown_index(spark, tmp_path):
    """The drift metric must flag refit when the corpus outgrows the
    fitted cell count by >25%: old = 4 rows (k_old = 2), total = 100
    (k_due = 10) -> refit_due = 1; and on the balanced 80/20 testdata
    split (k_due/k_old ≈ 1.12) it stays 0."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_housing_spark.plans import all_queries

    specs = all_queries()
    rng = np.random.default_rng(7)
    ids = [0, 1, 2, 3] + [8 + 10 * i for i in range(48)] + [9 + 10 * i for i in range(48)]
    rows = [(i, [float(x) for x in rng.normal(size=64)], 0) for i in sorted(ids)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = specs["q_ann_index_incremental"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 96
    assert all(r.n_old == 4 and r.k_old == 2 and r.k_due == 10 for r in out)
    assert all(r.refit_due == 1 for r in out)
    balanced = specs["q_ann_index_incremental"].fn(spark, "/root/testdata/sf0.01")
    assert balanced.agg(F.max("refit_due")).first()[0] == 0


def test_codes_served_matches_stateless(spark):
    """Deployment-shape law: serving from a precomputed ivfpq_scaled_codes
    table (codes scan + rerank) returns exactly the stateless per-call
    result — precomputing the code table changes where the bytes live,
    never the answer."""
    from pyspark.sql import functions as F

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.quantize import (
        ivfpq_scaled_codes,
        ivfpq_scaled_index,
        ivfpq_scaled_topk,
    )

    vecs = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    idx = ivfpq_scaled_index(vecs)
    idx = (idx[0].cache(), idx[1], idx[2].cache(), idx[3], idx[4])
    codes = ivfpq_scaled_codes(idx).cache()
    stateless = [tuple(r) for r in ivfpq_scaled_topk(vecs, index=idx).collect()]
    served = [
        tuple(r) for r in ivfpq_scaled_topk(vecs, index=idx, codes=codes).collect()
    ]
    assert stateless == served and len(served) == 10
    idx[0].unpersist(); idx[2].unpersist(); codes.unpersist()


def test_ann_append_artifacts_carry_full_corpus(spark):
    """Append-lifecycle contract: after q_ann_index_append runs, the
    cid-partitioned artifact dirs hold EVERY corpus vector exactly once —
    the old 80% from the build writes plus the 20% batch from the append
    writes (mode('append') adds files, never duplicates or drops rows) —
    and the packed code table stays one row per vector."""
    from pyspark.sql import functions as F

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.plans import all_queries
    from etl_housing_spark.plans.vector_queries import _index_dir

    sf = "/root/testdata/sf0.001"
    res = all_queries()["q_ann_index_append"].fn(spark, sf)
    assert res.count() == 10
    n = load_table(spark, sf, "embeddings").count()
    out = _index_dir(sf) + "_append"
    p_assign = spark.read.parquet(out + "/assign_by_cell")
    p_codes = spark.read.parquet(out + "/codes")
    assert p_assign.count() == n
    assert p_assign.select("vec_id").distinct().count() == n
    assert p_codes.count() == n
    assert p_codes.select("vec_id").distinct().count() == n
    # the appended batch really lives in the artifacts (not just the old fit)
    n_batch = p_assign.filter(F.col("vec_id") % 10 >= 8).count()
    assert n_batch == load_table(spark, sf, "embeddings").filter(
        F.col("vec_id") % 10 >= 8
    ).count()


def test_stream_ann_serve_matches_batch(spark):
    """Streamed serving law: three queries served one micro-batch at a time
    against the persisted artifacts return exactly the one-plan batch
    result — arrival order and batch boundaries move WHEN work happens,
    never the answer (the persisted index is frozen and every per-query
    decision is decimal-exact and totally ordered)."""
    from pyspark.sql import functions as F

    from etl_housing_spark.catalog import load_table
    from etl_housing_spark.operators.quantize import ivfpq_scaled_topk_batch
    from etl_housing_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    streamed = [
        tuple(r)
        for r in all_queries()["q_stream_ann_serve"]
        .fn(spark, sf)
        .orderBy("query_id", "rnk")
        .collect()
    ]
    vecs = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    batch = [
        tuple(r)
        for r in ivfpq_scaled_topk_batch(vecs, query_ids=[0, 17, 29])
        .orderBy("query_id", "rnk")
        .collect()
    ]
    assert streamed == batch and len(streamed) == 30


def test_dec18_matches_spark_cast(spark):
    """The driver-local serving probe replicates Spark's decimal fold
    bit-for-bit: Cast(double → decimal(p,18)) goes through the double's
    SHORTEST decimal representation (BigDecimal.valueOf == Double.toString
    == Python repr) rounded HALF_UP at scale 18, and decimal addition is
    exact — so _dec18's big-int path must equal the Spark cast on every
    input, and an integer sum + one correctly-rounded float() must equal
    the _dec_sum fold. This is the exactness contract the r16 serving
    fast path (driver probe) rests on."""
    import random
    from decimal import Decimal

    from pyspark.sql import functions as F

    from etl_housing_spark.operators.quantize import _dec18, _dec18_fold

    rng = random.Random(1234)
    cases = []
    for _ in range(4000):
        kind = rng.random()
        if kind < 0.5:
            cases.append(rng.gauss(0, 1) ** 2)
        elif kind < 0.8:
            cases.append(rng.random() * 10 ** rng.randint(-25, 8))
        else:
            cases.append(float(rng.randint(0, 10**6)) + rng.random())
    cases += [0.0, 1e-18, 4.9999999999999995e-19, 1.5e-18, 2.5e-18, 5e-324]
    df = spark.createDataFrame([(x,) for x in cases], "t double")
    got = df.select(
        F.col("t").cast("decimal(28,18)").cast("string").alias("d")
    ).collect()
    for x, r in zip(cases, got):
        assert int(Decimal(r.d).scaleb(18)) == _dec18(x), x
    # fold law: int accumulation == the (28,18) chained-cast array fold
    arrs = [[rng.gauss(0, 1) ** 2 for _ in range(64)] for _ in range(40)]
    adf = spark.createDataFrame([(a,) for a in arrs], "v array<double>")
    acc_t = "decimal(28,18)"
    folded = adf.select(
        F.aggregate(
            "v",
            F.lit(0).cast(acc_t),
            lambda acc, x: (acc + x.cast(acc_t)).cast(acc_t),
        )
        .cast("double")
        .alias("d")
    ).collect()
    for a, r in zip(arrs, folded):
        assert _dec18_fold(a, fast=False) == r.d


def test_serve_local_path_matches_distributed(spark, monkeypatch):
    """Serving-path law (r16): the local fused serve (driver-side decimal
    probe, broadcast local LUT, fused semi-join rerank) returns EXACTLY
    the rows of the batch core ivfpq_scaled_topk falls back to past the
    driver kc bound — the fast path moves jobs and bytes, never values.
    Checked for the top-k schema and for the with_rank schema
    q_stream_ann_serve writes, on one build of the persisted
    q_ann_index_serve artifacts at the smoke SF."""
    from pyspark.sql import functions as F

    from etl_housing_spark.operators import quantize
    from etl_housing_spark.plans.vector_queries import _write_serve_artifacts

    p_assign, p_cells, p_cb, p_codes, kc, nprobe = _write_serve_artifacts(
        spark, "/root/testdata/sf0.001"
    )
    qvec = list(p_assign.filter(F.col("vec_id") == 0).select("v").first()[0])

    def serve(with_rank):
        return [
            tuple(r)
            for r in quantize.ivfpq_scaled_topk(
                p_assign,
                index=(p_assign, p_cells, p_cb, kc, nprobe),
                codes=p_codes,
                query_vec=qvec,
                with_rank=with_rank,
            ).collect()
        ]

    def serve_both():
        # top-k rows come back ordered; ranked rows carry rnk first
        return serve(False), sorted(serve(True))

    local = serve_both()
    monkeypatch.setattr(quantize, "_DRIVER_PROBE_MAX_KC", 0)
    dist = serve_both()
    assert dist == local and [len(rows) for rows in local] == [10, 10]


def test_refit_serve_matches_fresh_build(spark):
    """Refit law (r16): after refit-and-swap, serving the refitted tree
    returns EXACTLY the fresh full-corpus build's answer — a refit
    erases all trace of the frozen-fit drift (q_ann_index_refit's
    (vec_id, exact_d2) ≡ q_ann_index_serve's on the same corpus), the
    trigger actually fired (refit_due=1, k_new > k_old at the 60/40
    growth split), and the staged swap left no staging/old siblings."""
    import os

    from etl_housing_spark.plans import all_queries
    from etl_housing_spark.plans.vector_queries import _index_dir

    sf = "/root/testdata/sf0.001"
    specs = all_queries()
    refit = specs["q_ann_index_refit"].fn(spark, sf).collect()
    fresh = specs["q_ann_index_serve"].fn(spark, sf).collect()
    assert [(r["vec_id"], r["exact_d2"]) for r in refit] == [
        (r["vec_id"], r["exact_d2"]) for r in fresh
    ]
    assert all(r["refit_due"] == 1 for r in refit)
    assert all(r["k_new"] > r["k_old"] for r in refit)
    out = _index_dir(sf) + "_refit"
    parent, base = os.path.dirname(out), os.path.basename(out)
    leftovers = [
        d
        for d in os.listdir(parent)
        if d.startswith(base + ".staging-") or d.startswith(base + ".old-")
    ]
    assert not leftovers, leftovers


def test_vocab_rank_injective_and_rarest_first(spark):
    """r17: the distributed (sh → tid) dictionary must stay INJECTIVE (a
    collision would merge two shingles and corrupt intersection sizes) and
    MONOTONE in (df, sh) — the rarest-first prefix order the PPJoin
    losslessness bound is tuned for. Gaps are fine; order is the contract."""
    from etl_housing_spark.operators.dedup import _vocab_rank

    sh = spark.createDataFrame(
        [(i, f"tok{j:03d}") for j in range(150) for i in range(j % 5 + 1)],
        "id long, sh string",
    )
    got = {r["sh"]: r["tid"] for r in _vocab_rank(sh).collect()}
    df_of = {f"tok{j:03d}": j % 5 + 1 for j in range(150)}
    order = sorted(df_of, key=lambda s: (df_of[s], s))
    tids = [got[s] for s in order]
    assert len(set(tids)) == len(tids)  # injective
    assert all(a < b for a, b in zip(tids, tids[1:]))  # monotone in (df, sh)


def test_dedup_clusters_cadence_invariant(spark, monkeypatch):
    """r17 (VERDICT r16 ask #5): the checkpoint cadence moves bytes, never
    labels — every CHECKPOINT_EVERY (including the old per-round form)
    yields identical components on a graph needing several propagation
    rounds."""
    from etl_housing_spark.operators import _ckpt
    from etl_housing_spark.operators.dedup import dedup_clusters

    # path 1-…-8 has diameter 7 → min-label needs multiple rounds; plus an
    # island and a triangle
    edges = [(i, i + 1) for i in range(1, 8)] + [(20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    def labels(k):
        monkeypatch.setattr(_ckpt, "CHECKPOINT_EVERY", k)
        return {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}

    want = labels(1)
    for k in (2, 3, 4):
        assert labels(k) == want, k
    assert want[8] == 1 and want[22] == 20 and want[31] == 30


def test_concurrent_checkpoints_failed_leg_leaks_no_storage(spark):
    """r17 (VERDICT r16 ask #9): a detector leg that throws inside the
    thread pool surfaces as the pool's exception with the OTHER legs'
    checkpoints already registered — the session registry must drain them,
    and the poisoned leg must leave no cached blocks behind."""
    import pytest as _pytest

    from etl_housing_spark.operators._ckpt import (
        clear_pipeline_cache,
        concurrent_checkpoints,
    )

    def _cached_rdd_ids() -> set[int]:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {int(i.id()) for i in infos if int(i.numCachedPartitions()) > 0}

    clear_pipeline_cache(blocking=True)
    before = _cached_rdd_ids()
    good1 = spark.range(50).selectExpr("id", "id * 2 AS y")
    good2 = spark.range(50).selectExpr("id", "id + 7 AS y")
    poison = spark.range(10).select(
        F.assert_true(F.col("id") < F.lit(0)).alias("boom")
    )
    with _pytest.raises(Exception):
        concurrent_checkpoints([good1, good2, poison])
    clear_pipeline_cache(blocking=True)
    leaked = _cached_rdd_ids() - before
    assert not leaked, leaked
