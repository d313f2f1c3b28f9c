"""Hermetic semantics tests for the round-8 curation operators
(q_exact_substr_dedup, q_dsir_weight, q_semdedup, q_dedup_incremental) on
hand-constructed corpora where the right answer is known by inspection —
the oracle-parity sweep (test_oracle_parity.py) proves cross-engine
equality; these prove the SEMANTICS are the published ones (Lee et al.
2022 deletion, Xie et al. 2023 importance direction, Abbas et al. 2023
keep-lowest-id, and the batch-vs-corpus tiering)."""

from __future__ import annotations

import pytest

from etl_housing_spark.plans import all_queries

SPECS = all_queries()


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", src, len(t)) for i, t, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_embeddings(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


# 8-word chunks: build docs from labeled 8-word blocks so chunk boundaries
# are exactly the blocks.
def _blk(tag):
    return " ".join(f"{tag}{i}" for i in range(8))


def test_exact_substr_dedup_deletes_and_reassembles(spark, tmp_path):
    a, b, c = _blk("a"), _blk("b"), _blk("c")
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, f"{a} {b}", "s"),  # first occurrence of A and B: kept whole
            (1, f"{b} {c}", "s"),  # B is a repeat -> deleted; C survives
            (2, f"{a} {b}", "s"),  # everything a repeat -> empty (NULL) doc
        ],
    )
    out = {r.doc_id: r for r in SPECS["q_exact_substr_dedup"].fn(spark, sf).collect()}
    assert out[0].clean_text == f"{a} {b}"
    assert (out[0].n_kept, out[0].n_dropped) == (2, 0)
    assert out[1].clean_text == c  # B deleted, C reassembled in order
    assert (out[1].n_kept, out[1].n_dropped) == (1, 1)
    assert out[2].clean_text is None  # fully deduplicated doc -> NULL text
    assert (out[2].n_kept, out[2].n_dropped) == (0, 2)


def test_exact_substr_dedup_preserves_chunk_order(spark, tmp_path):
    # 3 chunks, the middle one duplicated from another doc: survivors must
    # rejoin in original order (idx 0 then 2), not collect_list order.
    a, b, c = _blk("x"), _blk("y"), _blk("z")
    sf = _write_docs(spark, tmp_path, [(0, b, "s"), (1, f"{a} {b} {c}", "s")])
    out = {r.doc_id: r.clean_text for r in SPECS["q_exact_substr_dedup"].fn(spark, sf).collect()}
    assert out[1] == f"{a} {c}"


def test_dsir_weight_prefers_target_like_docs(spark, tmp_path):
    # Target domain (source='src1') speaks "alpha beta"; raw docs that share
    # its bigrams must outscore raw docs that don't (Xie et al. 2023: logw
    # orders docs by target-likeness).
    tgt = "alpha beta alpha beta alpha beta"
    like = "alpha beta alpha beta"
    unlike = "gamma delta gamma delta"
    sf = _write_docs(
        spark,
        tmp_path,
        [(0, tgt, "src1"), (1, tgt, "src1"), (2, like, "src9"), (3, unlike, "src9")],
    )
    out = {r.doc_id: r for r in SPECS["q_dsir_weight"].fn(spark, sf).collect()}
    assert set(out) == {2, 3}  # target docs are the model, never scored
    assert out[2].logw > out[3].logw
    assert out[2].n_bigrams == 3 and out[3].n_bigrams == 3


def test_semdedup_keeps_lowest_id_per_duplicate_set(spark, tmp_path):
    # Two tight groups of identical 64-d vectors: within each, only the
    # lowest vec_id survives; cross-group cosine is 0 (disjoint support).
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0] * 63 + [1.0]
    rows = [(0, e1, 0), (1, e1, 0), (2, e1, 0), (10, e2, 1), (11, e2, 1)]
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {r.vec_id: r for r in SPECS["q_semdedup"].fn(spark, sf).collect()}
    assert out[0].kept == 1 and out[10].kept == 1
    assert out[1].kept == 0 and out[2].kept == 0 and out[11].kept == 0
    assert out[2].n_dups == 2  # both lower ids of its set are duplicates


def test_semdedup_scaled_k_and_keep_rule(spark, tmp_path):
    # Corpus-scaled k: n=5 -> k=ceil(sqrt(5))=3. Seeds are the 3 lowest
    # vec_ids (all the e1 vector), so every row lands in one surviving
    # cluster and the keep rule is exercised across BOTH duplicate sets:
    # within each identical-vector set only the lowest id survives;
    # cross-set cosine is 0 (< 0.2 threshold).
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0] * 63 + [1.0]
    rows = [(0, e1, 0), (1, e1, 0), (2, e1, 0), (10, e2, 1), (11, e2, 1)]
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {r.vec_id: r for r in SPECS["q_semdedup_scaled"].fn(spark, sf).collect()}
    assert len(out) == 5
    assert all(r.k == 3 for r in out.values())  # ceil(sqrt(5)), from the corpus
    assert out[0].kept == 1 and out[10].kept == 1
    assert out[1].kept == 0 and out[2].kept == 0 and out[11].kept == 0
    assert out[2].n_dups == 2  # both lower ids of its set are duplicates
    for r in out.values():  # kept flag is exactly the n_dups==0 predicate
        assert r.kept == (1 if r.n_dups == 0 else 0)


def test_dedup_incremental_tiers(spark, tmp_path):
    # Corpus = ids 1,2,3 (not % 5); batch = ids 0,5,10.
    #   id 0: verbatim copy of corpus doc 1      -> exact_dup, match 1
    #   id 5: doc 2 with one word changed        -> near_dup (containment), match 2
    #   id 10: unrelated                         -> new
    base = " ".join(f"w{i}" for i in range(12))
    rewrite = " ".join(("CHANGED" if i == 11 else f"w{i}") for i in range(12))
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, base, "s"),
            (2, base + " tail0 tail1", "s"),
            (3, "other corpus doc entirely", "s"),
            (0, base, "s"),
            (5, rewrite, "s"),
            (10, "nothing shared here at all", "s"),
        ],
    )
    out = {r.doc_id: r for r in SPECS["q_dedup_incremental"].fn(spark, sf).collect()}
    assert out[0].verdict == "exact_dup" and out[0].match_id == 1 and out[0].score == 1.0
    assert out[5].verdict == "near_dup" and out[5].match_id in (1, 2)
    assert out[5].score == pytest.approx(0.9, abs=0.2)
    assert out[10].verdict == "new" and out[10].match_id is None and out[10].score is None


def test_gopher_rules_flags(spark, tmp_path):
    # Rae et al. 2021 A.1.1 thresholds, checked on crafted docs:
    # doc 0 passes every rule; doc 1 fails word-count (< 50 words);
    # doc 2 fails mean-word-length (> 10) and the stop-word rule.
    good = " ".join(["the", "be", "to", "of"] + ["word"] * 60)
    short = "the be quick word"
    longwords = " ".join(["pneumonoultramicroscopic"] * 60)
    sf = _write_docs(
        spark, tmp_path, [(0, good, "s"), (1, short, "s"), (2, longwords, "s")]
    )
    out = {r.doc_id: r for r in SPECS["q_gopher_rules"].fn(spark, sf).collect()}
    assert out[0].keep == 1 and out[0].ok_stop == 1
    assert out[1].keep == 0 and out[1].ok_word_count == 0
    assert out[2].keep == 0 and out[2].ok_mean_len == 0 and out[2].ok_stop == 0
    # every component flag is also individually right for the good doc
    assert (
        out[0].ok_word_count,
        out[0].ok_mean_len,
        out[0].ok_symbol,
        out[0].ok_alpha,
    ) == (1, 1, 1, 1)


def test_bpe_encode_counts_match_trained_merges(spark, tmp_path):
    # corpus of 'abab'-family words: round-1 merge is (a,b) -> 'ab';
    # subsequent rounds merge ('ab','ab') and ('abab','c') on this corpus.
    # 'abab'  -> after (a,b): 'ab ab' -> after (ab,ab): 'abab'  => 1 token
    # 'ababc' -> 'ab ab c' -> 'abab c' -> (abab,c) => 1 token
    # 'xy'    -> untouched by all merges => 2 tokens
    sf = _write_docs(
        spark, tmp_path, [(0, "abab ababc", "s"), (1, "abab xy abab", "s")]
    )
    out = {r.doc_id: r for r in SPECS["q_bpe_encode"].fn(spark, sf).collect()}
    assert (out[0].n_words, out[0].n_bpe_tokens) == (2, 2)
    assert (out[1].n_words, out[1].n_bpe_tokens) == (3, 4)
    assert out[0].n_chars == 9  # 4 + 5
    # and the merge table the encoding claims to apply is the trained one
    merges = {
        r.rnd: (r.a, r.b)
        for r in SPECS["q_bpe_merges_portable"].fn(spark, sf).collect()
    }
    assert merges[1] == ("a", "b")


def test_contamination_frac_thresholds(spark, tmp_path):
    # doc 0 is the eval holdout (0 % 37 == 0): shingles {abc, bcd}.
    # doc 1 repeats it verbatim -> frac 1.0, contaminated.
    # doc 2 shares 1 of its 4 shingles -> 0.25, clean.
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "a b c d", "s"),
            (1, "a b c d", "s"),
            (2, "a b c x y z", "s"),
        ],
    )
    out = {
        r.doc_id: r
        for r in SPECS["q_contamination_frac"].fn(spark, sf).collect()
    }
    assert 0 not in out  # eval docs are not scored
    assert (out[1].n_sh, out[1].n_hit, out[1].contaminated) == (2, 2, 1)
    assert (out[2].n_sh, out[2].n_hit, out[2].contaminated) == (4, 1, 0)
    assert abs(out[2].hit_frac - 0.25) < 1e-12


def test_ccnet_perplexity_formula_and_buckets(spark, tmp_path):
    # Corpus: "a a" (only common tokens), "a b" (one rare token).
    # Counts: a=3, b=1, T=4. CE(doc0) = ln4 - ln3 = ln(4/3); CE(doc1) =
    # ln4 - (ln3 + ln1)/2. Perplexity(doc0) = 4/3 exactly.
    sf = _write_docs(spark, tmp_path, [(0, "a a", "s"), (1, "a b", "s")])
    out = {r.doc_id: r for r in SPECS["q_ccnet_perplexity"].fn(spark, sf).collect()}
    import math

    assert out[0].cross_entropy == pytest.approx(math.log(4 / 3), abs=1e-6)
    assert out[0].perplexity == pytest.approx(4 / 3, abs=1e-6)
    assert out[1].cross_entropy == pytest.approx(
        math.log(4) - math.log(3) / 2, abs=1e-6
    )
    # lower perplexity -> head (the CCNet keep side), higher -> later bucket
    assert out[0].bucket == "head"
    assert out[1].bucket != "head"


def test_ccnet_tertiles_order_by_perplexity(spark, tmp_path):
    # Nine docs in three fluency classes: repeated common tokens (head),
    # mixed (middle), all-unique rare tokens (tail).
    rows = []
    for i in range(3):
        rows.append((i, "x x x x", "s"))  # very common -> low ppl
    for i in range(3, 6):
        rows.append((i, f"x x u{i}a u{i}b", "s"))  # mixed
    for i in range(6, 9):
        rows.append((i, f"r{i}a r{i}b r{i}c r{i}d", "s"))  # all rare
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r.bucket for r in SPECS["q_ccnet_perplexity"].fn(spark, sf).collect()}
    assert all(out[i] == "head" for i in range(3))
    assert all(out[i] == "middle" for i in range(3, 6))
    assert all(out[i] == "tail" for i in range(6, 9))


def test_doremi_one_round_multiplicative_weights(spark, tmp_path):
    # src1 = "a a a" (the best/lowest-loss domain), src2 = "b" (rare).
    # Unigram counts a=3, b=1, T=4: H(src1) = ln4 - ln3, H(src2) = ln4,
    # excess(src2) = ln3, so weights = 1/(1+3), 3/(1+3) = 0.25 / 0.75 —
    # DoReMi upweights the HIGH-excess-loss domain.
    sf = _write_docs(spark, tmp_path, [(0, "a a a", "src1"), (1, "b", "src2")])
    out = {r.source: r for r in SPECS["q_doremi_weights"].fn(spark, sf).collect()}
    assert out["src1"].excess == pytest.approx(0.0, abs=1e-6)
    assert out["src1"].weight == pytest.approx(0.25, abs=1e-6)
    assert out["src2"].weight == pytest.approx(0.75, abs=1e-6)
    assert out["src1"].n_tokens == 3 and out["src2"].n_tokens == 1


def test_cluster_balanced_sample_flattens_head(spark, tmp_path):
    # One head cluster of 150 + three tail clusters of 10 (seeds 0..3 land
    # one per group, so the Lloyd fit recovers the groups exactly). Tail
    # clusters are under the cap -> fully kept; the head cluster thins to
    # ~cap via the deterministic md5-uniform.
    import hashlib

    def vec(center_dim, jitter):
        v = [0.0] * 64
        if center_dim >= 0:
            v[center_dim] = 10.0
        v[60] += jitter * 1e-3
        return v

    rows = [(0, vec(-1, 0), 0), (1, vec(0, 0), 1), (2, vec(1, 0), 2), (3, vec(2, 0), 3)]
    nid = 4
    for j in range(1, 150):  # head group around the origin
        rows.append((nid, vec(-1, j), 0)); nid += 1
    for d in range(3):  # three tail groups
        for j in range(1, 10):
            rows.append((nid, vec(d, j), d + 1)); nid += 1
    sf = _write_embeddings(spark, tmp_path, rows)
    out = all_queries()["q_cluster_balanced_sample"].fn(spark, sf).collect()
    assert len(out) == len(rows)
    by_cid = {}
    for r in out:
        by_cid.setdefault(r.cid, []).append(r)
    sizes = sorted(len(v) for v in by_cid.values())
    assert sizes == [10, 10, 10, 150]
    for rs in by_cid.values():
        n_c = len(rs)
        kept = sum(r.kept for r in rs)
        if n_c <= 64:
            assert kept == n_c  # under the cap: untouched
        else:
            assert abs(kept - 64) <= 24  # 3 sigma of Binomial(150, 64/150)
        for r in rs:  # exact md5 thinning formula, engine-independent
            hv = int(hashlib.md5(str(r.vec_id).encode()).hexdigest()[:8], 16)
            expect = 1 if (n_c <= 64 or hv * n_c < 64 * 2**32) else 0
            assert r.kept == expect


def test_stream_neardup_gate_prefix_semantics(spark, tmp_path):
    # corpus (doc_id % 5 != 0) seeds state; the ingest batch (doc_id % 5
    # == 0) is gated against it. Within-batch duplicates must NOT match
    # each other (prefix semantics: state is read before the batch folds).
    t_dup = "alpha beta gamma delta epsilon zeta eta theta"
    t_new = "one two three four five six seven eight"
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, t_dup, "s"),  # corpus
            (2, "unrelated corpus text nothing shared here at all", "s"),
            (5, t_dup, "s"),  # ingest: exact twin of corpus doc 1
            (10, t_new, "s"),  # ingest: identical to 15, but NOT in corpus
            (15, t_new, "s"),
            (20, "totally fresh never seen words appear now here", "s"),
        ],
    )
    out = {r.doc_id: r for r in SPECS["q_stream_neardup_gate"].fn(spark, sf).collect()}
    assert set(out) == {5, 10, 15, 20}  # only the ingest batch is gated
    assert out[5].verdict == "near_dup"
    assert out[5].n_hits == 4 and out[5].best_match == 1  # all 4 bands hit
    # the within-batch twins gate only against PRIOR batches -> both new
    assert out[10].verdict == "new" and out[15].verdict == "new"
    assert out[10].best_match is None
    assert out[20].verdict == "new" and out[20].n_hits == 0


def test_fineweb_funnel_every_stage_binds(spark, tmp_path):
    # A corpus where each stage's drop is known by construction:
    #   doc 2 fails Gopher (too short); doc 3 fails repetition (periodic
    #   bigram); doc 4 fails exact dedup (copy of doc 1); docs 9-11 fail
    #   the perplexity tail drop (all-unique words => highest CE tertile);
    #   doc 5 is a 1-word-changed near-dup of doc 1 whose s5 verdict is
    #   cross-checked against the hash-checked MinHash primitive itself.
    base = [f"ab{i:02d}" for i in range(60)]  # 60 distinct 4-char words
    a_text = " ".join(base)
    c_words = list(base)
    c_words[30] = "zzzz"

    def rare(tag, n_doubled):
        # 60 words: n_doubled words appear twice (scattered), rest unique
        words = [f"q{tag}x{i:02d}" for i in range(60 - n_doubled)]
        for j in range(n_doubled):
            words.insert(7 * (j + 1), words[j])  # scatter the repeats
        return " ".join(words[:60])

    rows = [
        (1, a_text, "s"),
        (2, "tiny text", "s"),
        (3, " ".join(["abcd", "efgh"] * 30), "s"),
        (4, a_text, "s"),
        (5, " ".join(c_words), "s"),
        (6, rare("a", 3), "s"),
        (7, rare("b", 2), "s"),
        (8, rare("c", 1), "s"),
        (9, rare("d", 0), "s"),
        (10, rare("e", 0), "s"),
        (11, rare("f", 0), "s"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in SPECS["q_fineweb_funnel"].fn(spark, sf).collect()}
    assert len(out) == 11

    flags = lambda i: (  # noqa: E731
        out[i].pass_gopher,
        out[i].pass_repetition,
        out[i].pass_perplexity,
        out[i].pass_exact,
    )
    assert flags(2) == (0, 0, 0, 0)  # gopher drop cascades
    assert flags(3) == (1, 0, 0, 0)  # repetition drop
    assert flags(4) == (1, 1, 1, 0)  # exact-dup of doc 1
    for i in (9, 10, 11):  # all-unique words: highest-CE tertile
        assert flags(i) == (1, 1, 0, 0)
    for i in (1, 5, 6, 7, 8):  # survive through exact dedup
        assert flags(i) == (1, 1, 1, 1)
    assert out[1].pass_neardup == 1  # lowest id can never be the dropped side

    # s5 ground truth from the independently hash-checked primitive: a
    # survivor drops iff it shares a band bucket with a SMALLER survivor
    from etl_housing_spark.operators.dedup import minhash_bands
    from etl_housing_spark.plans.dedup_queries import portable_sigs

    survivors = {1, 5, 6, 7, 8}
    bands = {}
    for r in minhash_bands(portable_sigs(spark, sf), 4, 4).collect():
        if r.id in survivors:
            bands.setdefault((r.band, tuple(r.bkey)), []).append(r.id)
    for i in sorted(survivors):
        expected = 0 if any(
            min(ids) < i for ids in bands.values() if i in ids
        ) else 1
        assert out[i].pass_neardup == expected, f"doc {i}"
    # and the probe doc 5 (1 word changed of 60) must actually have
    # collided with doc 1 — otherwise the near-dup stage went untested
    assert out[5].pass_neardup == 0


# -- property: the distributed unigram-CE chain equals the direct formula --

from hypothesis import given, settings
from hypothesis import strategies as st

_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_doc = st.lists(_word, min_size=1, max_size=8).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=6))
def test_unigram_ce_matches_direct_formula(spark, tmp_path_factory, docs_texts):
    import math
    from collections import Counter

    from etl_housing_spark.plans.pipeline_queries import _unigram_ce

    tmp = tmp_path_factory.mktemp("ce")
    sf = _write_docs(
        spark, tmp, [(i, t, "s") for i, t in enumerate(docs_texts)]
    )
    df = spark.read.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in _unigram_ce(df).collect()}

    corpus = Counter(w for t in docs_texts for w in t.split(" ") if w)
    total = sum(corpus.values())
    for i, t in enumerate(docs_texts):
        words = [w for w in t.split(" ") if w]
        expect = math.log(total) - sum(math.log(corpus[w]) for w in words) / len(words)
        assert out[i].n_words == len(words)
        assert abs(out[i].ce6 - round(expect, 6)) < 2e-6, (i, t)


def test_fineweb_funnel_exact_stage_shields_lsh_from_dup_floods(spark, tmp_path):
    # Adversarial shape for any LSH stage: a flood of IDENTICAL documents
    # would put every copy in every band bucket (one giant bucket => the
    # pair join goes quadratic). The funnel's ordering defuses it by
    # construction: exact dedup runs FIRST, so only ONE copy of the flood
    # reaches the near-dup join. This pins that ordering.
    base = [f"fl{i:02d}" for i in range(60)]
    flood = " ".join(base)
    other = " ".join(f"ok{i:02d}" for i in range(60))
    rows = [(i, flood, "s") for i in range(40)]  # 40 identical docs
    rows.append((40, other, "s"))
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in SPECS["q_fineweb_funnel"].fn(spark, sf).collect()}
    kept_flood = [i for i in range(40) if out[i].pass_exact == 1]
    assert kept_flood == [0]  # one survivor of the flood reaches S5
    assert out[0].pass_neardup == 1  # ...and is kept (no smaller band-mate)
    # every other copy was stopped BEFORE the LSH stage
    assert all(out[i].pass_exact == 0 for i in range(1, 40))
    # the lone unique doc is this corpus's perplexity TAIL (every word
    # count 1 vs the flood's 40) — dropped at S3, never reaching dedup
    assert out[40].pass_repetition == 1 and out[40].pass_perplexity == 0


def test_bpe_encode_ids_consistent_with_token_counts(spark, tmp_path):
    # The id-level encoding must agree with the count-level encoding
    # (q_bpe_encode) doc for doc, emit exactly n_tokens ids, dense ids
    # starting at 1, and give identical texts identical id sequences.
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "abab cdcd abab", "s"),
            (1, "abab cdcd abab", "s"),  # identical text -> identical ids
            (2, "cdcd efef", "s"),
            (3, "zz", "s"),
        ],
    )
    ids_out = {r.doc_id: r for r in SPECS["q_bpe_encode_ids"].fn(spark, sf).collect()}
    cnt_out = {r.doc_id: r for r in SPECS["q_bpe_encode"].fn(spark, sf).collect()}
    assert set(ids_out) == set(cnt_out) == {0, 1, 2, 3}
    all_ids = set()
    for i, r in ids_out.items():
        toks = r.ids.split(" ")
        assert len(toks) == r.n_tokens == cnt_out[i].n_bpe_tokens
        assert all(t.isdigit() and int(t) >= 1 for t in toks)
        all_ids.update(int(t) for t in toks)
    assert ids_out[0].ids == ids_out[1].ids
    assert ids_out[0].ids != ids_out[2].ids
    # dense vocabulary: ids drawn from 1..max with no required gaps at 1
    assert min(all_ids) == 1


def test_pack_sequences_reconstructs_the_id_stream(spark, tmp_path):
    # Packing invariants: (1) concatenating chunks in chunk order per source
    # reproduces the per-doc id stream in doc order exactly; (2) every
    # chunk except the last per source holds exactly L=32 ids; (3) n_ids
    # matches the payload.
    rows = []
    did = 0
    for src in ("sa", "sb"):
        for d in range(5):
            rows.append((did, " ".join(f"{src}w{d}{i:02d}" for i in range(10)), src))
            did += 1
    sf = _write_docs(spark, tmp_path, rows)
    per = {r.doc_id: r for r in SPECS["q_bpe_encode_ids"].fn(spark, sf).collect()}
    docsrc = {i: s for i, (_, _, s) in zip(range(did), [(None, None, r[2]) for r in rows])}
    chunks = SPECS["q_pack_sequences"].fn(spark, sf).collect()
    by_src = {}
    for r in chunks:
        by_src.setdefault(r.source, []).append(r)
        assert r.n_ids == len(r.ids.split(" "))
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.chunk_id)
        for r in rs[:-1]:
            assert r.n_ids == 32, (src, r.chunk_id, r.n_ids)
        packed = " ".join(r.ids for r in rs)
        stream = " ".join(
            per[i].ids for i in sorted(per) if docsrc[i] == src
        )
        assert packed == stream, src


def test_pack_efficiency_consistent_with_packed_chunks(spark, tmp_path):
    # The report must agree with the materialized chunks it describes:
    # same chunk counts, same id totals, fill_rate = n_ids/(n_chunks*32),
    # and every non-final chunk full.
    rows = [(i, " ".join(f"w{i}x{j:02d}" for j in range(12)), "s") for i in range(6)]
    sf = _write_docs(spark, tmp_path, rows)
    rep = {r.source: r for r in SPECS["q_pack_efficiency"].fn(spark, sf).collect()}
    chunks = SPECS["q_pack_sequences"].fn(spark, sf).collect()
    assert set(rep) == {"s"}
    r = rep["s"]
    assert r.n_chunks == len(chunks)
    assert r.n_ids == sum(c.n_ids for c in chunks)
    assert r.n_full == sum(1 for c in chunks if c.n_ids == 32)
    assert r.fill_rate == pytest.approx(r.n_ids / (r.n_chunks * 32), abs=1e-6)
    assert r.max_docs_per_chunk == max(c.n_docs for c in chunks)


def test_quality_classifier_separates_target_like_docs(spark, tmp_path):
    # Two GD rounds on the hashed-bigram features must already order docs
    # by target-likeness: raw docs sharing the target's bigrams outscore
    # raw docs that don't, and the target docs themselves score highest.
    tgt = "alpha beta alpha beta alpha beta"
    like = "alpha beta alpha beta"
    unlike = "gamma delta gamma delta"
    sf = _write_docs(
        spark,
        tmp_path,
        [(0, tgt, "src1"), (1, tgt, "src1"), (2, like, "src9"), (3, unlike, "src9")],
    )
    out = {
        r.doc_id: r
        for r in SPECS["q_quality_classifier_portable"].fn(spark, sf).collect()
    }
    assert set(out) == {0, 1, 2, 3}  # scores every doc, target included
    assert (out[0].is_tgt, out[2].is_tgt, out[3].is_tgt) == (1, 0, 0)
    assert out[2].score > out[3].score  # target-like raw doc wins
    assert out[0].score > out[3].score  # target itself scores high
    assert 0.0 < out[3].score < 1.0  # a probability, not a degenerate 0/1


def test_lm_heldout_jm_smooths_unseen_events(spark, tmp_path):
    # Train on ids % 7 != 0 ("alpha beta" world); held-out docs contain
    # seen bigrams (doc 0), a mix (doc 14: one seen bigram + one fully
    # novel), and nothing the LM ever saw (doc 7). The interpolation's
    # uniform floor must keep even doc 7 finite, and scores must order by
    # how much of the doc the LM explains.
    import math

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "alpha beta alpha beta", "s"),
            (2, "alpha beta alpha beta", "s"),
            (3, "alpha beta gamma", "s"),
            (0, "alpha beta alpha beta", "s"),  # held-out: all seen
            (7, "zeta eta zeta", "s"),  # held-out: fully novel
            (14, "alpha beta nu", "s"),  # held-out: one seen, one novel
        ],
    )
    out = {r.doc_id: r for r in SPECS["q_lm_heldout_jm"].fn(spark, sf).collect()}
    assert set(out) == {0, 7, 14}  # only the held-out slice is scored
    for r in out.values():
        assert math.isfinite(r.lm_score) and r.ppl > 0  # the floor held
    assert out[0].lm_score > out[14].lm_score > out[7].lm_score
    assert out[0].ppl < out[14].ppl < out[7].ppl
    assert out[7].n_bigrams == 2


def test_takedown_cascade_removes_cluster_twins(spark, tmp_path):
    # doc 7 is reported (7 % 7 == 0); doc 9 is its near-identical twin
    # (same text → same MinHash cluster) and MUST be cascaded out; doc 11
    # is unrelated and must survive. Long texts so trigram shingles overlap.
    dup = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    sf = _write_docs(
        spark,
        tmp_path,
        [(7, dup, "sA"), (9, dup, "sA"), (11, other, "sB")],
    )
    rows = {r.source: r for r in SPECS["q_takedown_cascade"].fn(spark, sf).collect()}
    assert rows["sA"].n_reported == 1
    assert rows["sA"].n_removed == 2  # reported + cascaded twin
    assert rows["sA"].n_cascade == 1
    assert rows["sB"].n_removed == 0 and rows["sB"].n_cascade == 0


def test_lsh_eval_detects_planted_dup_and_rejects_disjoint(spark, tmp_path):
    dup = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    sf = _write_docs(
        spark, tmp_path, [(0, dup, "s"), (1, dup, "s"), (2, other, "s")]
    )
    rows = {r.j_decile: r for r in SPECS["q_lsh_eval"].fn(spark, sf).collect()}
    # identical pair → decile 10, detected with recall 1.0
    assert rows[10].n_pairs == 1 and rows[10].n_detected == 1
    assert rows[10].recall == 1.0
    # disjoint docs share no shingle: no truth pair, no candidate
    assert all(d in (10,) or rows[d].n_candidates == 0 for d in rows)


def test_unigram_viterbi_prefers_whole_piece_over_composition(spark, tmp_path):
    # corpus "abab abab cd": seed vocab counts — singles a:4 b:4 c:1 d:1,
    # multi (cnt>=2) ab:4 ba:2 aba:2 bab:2 abab:2, total 22. Viterbi on
    # 'abab': P(abab)=2/22 > P(ab)^2=(4/22)^2, so the whole word wins;
    # 'cd' has no multi piece (cd count 1 < 2) → segments c d.
    sf = _write_docs(spark, tmp_path, [(0, "abab abab cd", "s")])
    rows = {
        r.piece: r
        for r in SPECS["q_unigram_viterbi_portable"].fn(spark, sf).collect()
    }
    assert set(rows) == {"abab", "c", "d"}
    assert rows["abab"].cnt_seed == 2 and rows["abab"].cnt_em == 2
    assert rows["c"].cnt_em == 1 and rows["d"].cnt_em == 1


def test_unigram_encode_counts_match_trained_segmentation(spark, tmp_path):
    # same corpus as the trainer test: abab -> 1 piece, cd -> 2 pieces
    sf = _write_docs(spark, tmp_path, [(0, "abab abab cd", "s")])
    r = SPECS["q_unigram_encode"].fn(spark, sf).collect()[0]
    assert r.n_words == 3 and r.n_chars == 10
    assert r.n_unigram_tokens == 4  # 1 + 1 + 2
    assert r.chars_per_token == 2.5


def test_corr_matrix_detects_perfect_correlation(spark, tmp_path):
    # embedding[k] = ±t·(k+1): same-parity dims corr +1, opposite -1
    rows = []
    for vid, t in enumerate([0.1, 0.25, 0.4, 0.05]):
        vec = [t * (k + 1) * (1 if k % 2 == 0 else -1) for k in range(64)]
        rows.append((vid, vec, 0))
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {(r.i, r.j): r.corr for r in SPECS["q_corr_matrix"].fn(spark, sf).collect()}
    assert len(out) == 2016
    assert out[(1, 3)] == 1.0 and out[(2, 4)] == 1.0
    assert out[(1, 2)] == -1.0 and out[(3, 64)] == -1.0


def test_pca_power_recovers_rank1_direction(spark, tmp_path):
    # rank-1 data embedding[k] = ±t·(k+1): the top PC is the generating
    # direction (up to sign); power iteration converges in one step
    rows = []
    for vid, t in enumerate([0.1, 0.25, 0.4, 0.05]):
        vec = [t * (k + 1) * (1 if k % 2 == 0 else -1) for k in range(64)]
        rows.append((vid, vec, 0))
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {r.i: r for r in SPECS["q_pca_power_portable"].fn(spark, sf).collect()}
    assert len(out) == 64
    # proportional to u_k = ±(k+1): |loading| grows linearly, signs alternate
    l1, l2, l64 = out[1].loading, out[2].loading, out[64].loading
    assert abs(abs(l64) - 64 * abs(l1)) < 1e-3
    assert l1 * l2 < 0 and l1 * out[3].loading > 0
    assert abs(sum(r.loading ** 2 for r in out.values()) - 1.0) < 1e-4
    assert out[1].eigval_est > 0


def test_lsh_band_sweep_all_layouts_catch_identical_pair(spark, tmp_path):
    dup = " ".join(f"w{i}" for i in range(30))
    sf = _write_docs(spark, tmp_path, [(0, dup, "s"), (1, dup, "s")])
    out = SPECS["q_lsh_band_sweep"].fn(spark, sf).collect()
    by_layout = {r.layout: r for r in out if r.j_decile == 10}
    assert set(by_layout) == {"b2r8", "b4r4", "b8r2"}
    # identical docs agree on every signature: every layout must detect
    assert all(r.n_detected == 1 and r.recall == 1.0 for r in by_layout.values())


def test_image_neardup_phash_surfaces_planted_identical_images(spark, tmp_path):
    # the image fixture is a pure function of doc_id with period 256 in the
    # pixel formula and dims: ids 1 and 257 produce IDENTICAL images
    sf = _write_docs(
        spark, tmp_path, [(1, "a", "s"), (257, "b", "s"), (9000, "c", "s")]
    )
    rows = {(r.id_a, r.id_b): r.hamming
            for r in SPECS["q_image_neardup_phash"].fn(spark, sf).collect()}
    assert rows.get((1, 257)) == 0


def test_pca_whiten_rank1_residual_is_zero(spark, tmp_path):
    # rank-1 data: every vector IS the component direction, so the
    # residual after deflation must round to 0 and |pc1| must equal |x|
    import math

    rows = []
    for vid, t in enumerate([0.1, 0.25, 0.4, 0.05]):
        vec = [t * (k + 1) * (1 if k % 2 == 0 else -1) for k in range(64)]
        rows.append((vid, vec, 0))
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {r.vec_id: r for r in SPECS["q_pca_whiten"].fn(spark, sf).collect()}
    norm_u = math.sqrt(sum(((k + 1)) ** 2 for k in range(64)))
    for vid, t in enumerate([0.1, 0.25, 0.4, 0.05]):
        # embeddings are stored float32: the vectors are only rank-1 up to
        # float32 quantization (~1.2e-7 relative), so residuals land at
        # ~1e-4 of the ~75-100 norms, not exactly zero
        assert out[vid].resid_norm < 1e-3
        assert abs(abs(out[vid].pc1) - t * norm_u) < 1e-2


def test_bloom_filter_laws(spark):
    """Bloom invariants on a planted set: no false negatives ever; bitmap
    row count bounded by M/32; probe verdicts deterministic."""
    from pyspark.sql import functions as F

    from etl_housing_spark.operators.bloom import bloom_build, bloom_probe

    members = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], "key string"
    )
    others = spark.createDataFrame(
        [(f"other-{i}",) for i in range(500)], "key string"
    )
    m, k = 4096, 4
    bits = bloom_build(members, "key", m, k)
    assert bits.count() <= m // 32
    # every word is a valid non-negative 32-bit value
    bad = bits.filter((F.col("word") < 0) | (F.col("word") > (1 << 32) - 1))
    assert bad.count() == 0
    # zero false negatives: all members probe positive
    mem_verdict = bloom_probe(members, "key", bits, m, k)
    assert mem_verdict.filter(F.col("bloom_hit") == 0).count() == 0
    # non-members: mostly negative at this fill (fpr bound ~ (fill)^k),
    # and the verdict is deterministic across invocations
    neg1 = {r.key for r in bloom_probe(others, "key", bits, m, k)
            .filter(F.col("bloom_hit") == 1).collect()}
    neg2 = {r.key for r in bloom_probe(others, "key", bits, m, k)
            .filter(F.col("bloom_hit") == 1).collect()}
    assert neg1 == neg2
    assert len(neg1) < 100  # fill ~0.18 -> fpr ~0.1%; 100/500 is 200x margin


def test_epoch_shuffle_laws(spark):
    """Epoch shuffle: 3 epochs x full corpus, ranks contiguous per (epoch,
    shard), different epochs genuinely re-order, and the assignment is
    deterministic across invocations (no rand() anywhere)."""
    from pyspark.sql import functions as F

    from etl_housing_spark.plans import all_queries

    fn = all_queries()["q_epoch_shuffle"].fn
    sf = "/root/testdata/sf0.001"
    out = fn(spark, sf)
    n_docs = out.select("doc_id").distinct().count()
    assert out.count() == 3 * n_docs
    # ranks are 1..n within each (epoch, shard)
    bad = (
        out.groupBy("epoch", "shard")
        .agg(F.count(F.lit(1)).alias("n"), F.max("rk").alias("mx"), F.min("rk").alias("mn"))
        .filter((F.col("mx") != F.col("n")) | (F.col("mn") != 1))
    )
    assert bad.count() == 0
    # epochs re-order: the doc at (epoch 0, shard s, rk 1) is generally not
    # the doc at (epoch 1, shard s, rk 1)
    firsts = {(r.epoch, r.shard): r.doc_id for r in out.filter(F.col("rk") == 1).collect()}
    by_shard = {}
    for (e, s), d in firsts.items():
        by_shard.setdefault(s, set()).add(d)
    assert any(len(v) > 1 for v in by_shard.values())
    # deterministic: a second invocation is row-identical
    again = {(r.epoch, r.shard, r.rk): r.doc_id for r in fn(spark, sf).collect()}
    first = {(r.epoch, r.shard, r.rk): r.doc_id for r in out.collect()}
    assert first == again


def test_image_band_recall_pigeonhole_guarantees(spark):
    """The band-layout recall harness must honor the pigeonhole bounds by
    construction: 4x16 bands guarantee candidacy through Hamming distance 3
    (4 bands absorb at most 3 dirty bits with one band left clean), 2x32
    through distance 1 — recall must be EXACTLY 1.0 there, not approximately.
    The junk bin (d_bin=7) can hold candidates but never truth pairs, and
    the finer layout dominates the coarser at every distance."""
    from tests.conftest import SF_SMOKE

    rows = SPECS["q_image_band_recall"].fn(spark, SF_SMOKE).collect()
    by = {(r.layout, r.d_bin): r for r in rows}
    for (layout, d), r in by.items():
        if layout == "b4x16" and d <= 3 and r.n_pairs > 0:
            assert r.recall == 1.0, (layout, d, r)
        if layout == "b2x32" and d <= 1 and r.n_pairs > 0:
            assert r.recall == 1.0, (layout, d, r)
        if d == 7:
            assert r.n_pairs == 0, r
    for d in range(7):
        a, b = by.get(("b4x16", d)), by.get(("b2x32", d))
        if a and b:
            assert a.n_detected >= b.n_detected, (d, a, b)


def test_bloom_overshoot_is_superset_accounting(spark):
    """q_bloom_overshoot's row must satisfy the Bloom laws in-engine:
    missed docs are impossible (no false negatives) and the bloom doc set
    is exactly the exact set plus the overshoot."""
    from tests.conftest import SF_SMOKE

    r = SPECS["q_bloom_overshoot"].fn(spark, SF_SMOKE).collect()[0]
    assert r.n_missed_docs == 0
    assert r.n_bloom_docs == r.n_exact_docs + r.n_overshoot_docs
    assert r.n_overshoot_docs >= 0


def test_semdedup_centroid_keep_rule(spark):
    """q_semdedup_centroid follows the paper's keep rule: the member of a
    duplicate pair with the LOWER centroid similarity survives. Invariants
    that pin it without recomputing pairs: every vector appears exactly
    once; every cluster keeps at least one member; and the (cent_sim,
    vec_id)-minimal member of each cluster is always kept (it wins every
    pair it can appear in)."""
    from tests.conftest import SF_SMOKE

    rows = SPECS["q_semdedup_centroid"].fn(spark, SF_SMOKE).collect()
    assert len({r.vec_id for r in rows}) == len(rows)
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    for label, members in by_label.items():
        assert any(m.kept == 1 for m in members), label
        # the query's drop rule compares UNROUNDED cs; the output exposes
        # only the 6dp rounding, so assert on the rounded tie-class: some
        # member at the minimal rounded cent_sim must survive (the true
        # unrounded champion is in that class and wins every pair it's in)
        min_cs = min(m.cent_sim for m in members)
        assert any(m.kept == 1 for m in members if m.cent_sim == min_cs), (
            label,
            [m for m in members if m.cent_sim == min_cs],
        )


def test_unimax_waterfill_caps_small_languages(spark):
    """UniMax planted laws: with a heavily skewed corpus the small languages
    hit the 4-epoch cap exactly, the big one absorbs the leftover by floor
    division, and the spent budget reconciles (caps + leftover = B, minus
    the documented < K-1 floor remainder)."""
    import etl_housing_spark.plans.sampling_queries as SQ

    df = spark.createDataFrame(
        [("t", 4), ("t", 6), ("m", 50), ("b", 500), ("b", 500)],
        "lang string, n_chars long",
    )
    orig = SQ.load_table
    try:
        SQ.load_table = lambda s, d, n: df
        rows = {r.lang: r for r in SPECS["q_unimax_mix"].fn(spark, "unused").collect()}
    finally:
        SQ.load_table = orig
    # B = 1060; caps: t=40, m=200, b=4000. Water-filling: t capped
    # (40*3 <= 1060), m capped (200*2 <= 1020), b uncapped -> 820 DIV 1.
    assert rows["t"].capped == 1 and rows["t"].alloc_chars == 40
    assert rows["t"].epochs == 4.0
    assert rows["m"].capped == 1 and rows["m"].alloc_chars == 200
    assert rows["m"].epochs == 4.0
    assert rows["b"].capped == 0 and rows["b"].alloc_chars == 820
    assert sum(r.alloc_chars for r in rows.values()) == 1060


def test_multimodal_consensus_demotes_single_detector_pairs(spark):
    """Consensus laws at the fixture SF: every returned pair is flagged by
    >= 2 modalities and its per-modality flags reproduce membership in the
    component detectors' pair sets; at least one single-modality pair
    exists and is correctly absent (the false-positive-demotion point)."""
    from tests.conftest import SF_SMOKE

    q = SPECS
    comp = {
        "f_text": {
            (r.id_a, r.id_b)
            for r in q["q_minhash_pairs_portable"].fn(spark, SF_SMOKE)
            .filter("n_match >= 8").collect()
        },
        "f_image": {
            (r.id_a, r.id_b)
            for r in q["q_image_neardup_banded"].fn(spark, SF_SMOKE).collect()
        },
        "f_audio": {
            (r.id_a, r.id_b)
            for r in q["q_audio_neardup"].fn(spark, SF_SMOKE).collect()
        },
        "f_video": {
            (r.id_a, r.id_b)
            for r in q["q_video_neardup"].fn(spark, SF_SMOKE).collect()
        },
    }
    cons = q["q_multimodal_consensus"].fn(spark, SF_SMOKE).collect()
    assert cons  # the fixture corpus produces real consensus pairs
    got = set()
    for r in cons:
        assert r.n_modalities >= 2
        flags = {k: getattr(r, k) for k in comp}
        assert sum(flags.values()) == r.n_modalities
        for k, v in flags.items():
            assert ((r.id_a, r.id_b) in comp[k]) == bool(v), (r, k)
        got.add((r.id_a, r.id_b))
    # single-detector pairs exist and are demoted
    from collections import Counter

    counts = Counter(p for s in comp.values() for p in s)
    singles = {p for p, c in counts.items() if c == 1}
    assert singles and not (singles & got)


def test_dup_cluster_reps_laws(spark):
    """Cluster-representative laws: reps never exceed the member id,
    n_dup_modalities counts exactly the modalities whose rep is a strictly
    smaller id, and the planted identical images (ids 256 apart) all
    surface with the class-minimum as their image rep."""
    from tests.conftest import SF_SMOKE

    rows = SPECS["q_dup_cluster_reps"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        reps = [r.rep_text, r.rep_image, r.rep_audio, r.rep_video]
        assert all(x is None or x <= r.doc_id for x in reps)
        assert r.n_dup_modalities == sum(
            1 for x in reps if x is not None and x < r.doc_id
        )
    # planted image duplicates: ids 256 apart have IDENTICAL images, hence
    # identical dHashes, hence the same class rep (the class can be wider
    # than the planted pair — dHash is lossy, distinct images may collide —
    # so the law is shared-rep and rep <= the older planted twin, not
    # rep == id % 256)
    for doc_id in range(256, 500):
        assert doc_id in by_id, doc_id
        r = by_id[doc_id]
        assert r.rep_image is not None and r.rep_image <= doc_id - 256
        older = by_id.get(doc_id - 256)
        if older is not None and older.rep_image is not None:
            assert older.rep_image == r.rep_image


def test_consensus_reps_verdict_laws(spark):
    """Density-safe consensus laws: the verdict set is exactly the
    >= 2-flagged-modality slice of q_dup_cluster_reps, the per-modality
    flags reproduce rep_m < doc_id membership, and keep_id is the smallest
    flagged rep — so the linear consensus is provably the rep-table
    reduction, never a separate detector with drift potential."""
    from tests.conftest import SF_SMOKE

    reps = {r.doc_id: r for r in
            SPECS["q_dup_cluster_reps"].fn(spark, SF_SMOKE).collect()}
    cons = SPECS["q_consensus_reps"].fn(spark, SF_SMOKE).collect()
    assert cons  # the planted fixture produces real >= 2-modality verdicts
    expected_ids = {
        d for d, r in reps.items()
        if sum(1 for x in (r.rep_text, r.rep_image, r.rep_audio, r.rep_video)
               if x is not None and x < d) >= 2
    }
    assert {r.doc_id for r in cons} == expected_ids
    for r in cons:
        base = reps[r.doc_id]
        flags = {
            "f_text": base.rep_text, "f_image": base.rep_image,
            "f_audio": base.rep_audio, "f_video": base.rep_video,
        }
        flagged_reps = []
        for col, rep in flags.items():
            is_dup = rep is not None and rep < r.doc_id
            assert getattr(r, col) == int(is_dup), (r, col)
            if is_dup:
                flagged_reps.append(rep)
        assert r.n_modalities == len(flagged_reps) >= 2
        assert r.keep_id == min(flagged_reps)
    # single-modality duplicates exist in the fixture and are demoted
    assert any(
        r.n_dup_modalities == 1 for r in reps.values()
    ) and len(expected_ids) < len(reps)


def test_dedup_tiered_each_tier_binds_and_respects_survivors(spark, tmp_path):
    """Planted corpus where all three tiers bind, each on its own signal:
    doc 1 is an exact text twin of doc 0 (tier 1); doc 256 carries
    identical media to doc 0 — the (id*31 + 7i) mod 256 pixel period —
    with unique text (tier 2); doc 6's embedding is near-parallel to doc
    5's (tier 3). Adversarial survivor-restriction check: the tier-1-
    dropped doc 1's embedding is IDENTICAL in direction to doc 5's, so a
    semantic tier that forgot to restrict pairs to survivors would drop
    doc 5 via the ghost pair (5, 1) — doc 5 must survive."""
    from tests.test_curation_ops import _write_docs, _write_embeddings

    docs = [
        (0, "alpha beta gamma", "s"),
        (1, "alpha beta gamma", "s"),
        (2, "second unique text", "s"),
        (3, "third unique text", "s"),
        (5, "fifth unique text", "s"),
        (6, "sixth unique text", "s"),
        (256, "twofiftysix unique text", "s"),
        (300, "threehundred unique text", "s"),
    ]

    def axis(i, extra=None):
        v = [0.0] * 64
        v[i] = 1.0
        if extra is not None:
            v[extra] = 0.1
        return v

    emb = [
        (0, axis(0), 0),
        (1, axis(5), 1),       # seed cid 1; dropped at tier 1
        (2, axis(1), 2),
        (3, axis(2), 3),
        (5, axis(5), 1),       # same direction as the dropped doc 1
        (6, axis(5, extra=6), 1),  # cosine ~0.995 with doc 5 -> tier-3 drop
        (256, axis(7), 0),
        (300, axis(8), 0),
    ]
    sf = _write_docs(spark, tmp_path, docs)
    _write_embeddings(spark, tmp_path, emb)
    rows = {
        r.doc_id: (r.pass_exact, r.pass_media, r.pass_semantic)
        for r in SPECS["q_dedup_tiered"].fn(spark, sf).collect()
    }
    assert rows[1] == (0, 0, 0)      # tier 1: exact text twin of 0
    assert rows[256] == (1, 0, 0)    # tier 2: media twin of 0, unique text
    assert rows[6] == (1, 1, 0)      # tier 3: semantic twin of 5
    assert rows[5] == (1, 1, 1)      # survivor restriction: ghost pair (5,1)
    for d in (0, 2, 3, 300):
        assert rows[d] == (1, 1, 1), (d, rows[d])


def test_consensus_safe_equals_pair_form_restricted_to_keepers(spark):
    """The commutation law behind the density-safe mode: because every
    detector is a pairwise predicate, restricting the corpus to
    exact-unique keepers BEFORE pair enumeration (the safe mode) must
    produce exactly the pair-form consensus rows whose both endpoints are
    keepers. Also: the safe output is non-trivial (genuine near-dups
    survive the exact reduction) and disjoint from exact-twin pairs."""
    from tests.conftest import SF_SMOKE

    full = {(r.id_a, r.id_b): r for r in
            SPECS["q_multimodal_consensus"].fn(spark, SF_SMOKE).collect()}
    reps = SPECS["q_dup_cluster_reps"].fn(spark, SF_SMOKE).collect()
    dropped = {r.doc_id for r in reps if r.n_dup_modalities >= 1}
    expected = {
        p: r for p, r in full.items()
        if p[0] not in dropped and p[1] not in dropped
    }
    safe = {(r.id_a, r.id_b): r for r in
            SPECS["q_multimodal_consensus_safe"].fn(spark, SF_SMOKE).collect()}
    assert safe  # genuine near-dup consensus survives the exact reduction
    assert set(safe) == set(expected)
    for p, r in safe.items():
        e = expected[p]
        assert (r.n_modalities, r.f_text, r.f_image, r.f_audio, r.f_video) == (
            e.n_modalities, e.f_text, e.f_image, e.f_audio, e.f_video
        )
    # and the reduction actually removed pair work: the full form has
    # pairs touching exact-dup members that the safe form never enumerates
    assert len(full) > len(safe)
