"""Repetition-based quality filters (operators/quality.py) and
product quantization (operators/pq.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from resume_jd_matcher_spark.operators.quality import repetition_stats

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_planted_spam_dropped(spark):
    """A doc that is one bigram repeated must trip the top-bigram
    rule; a doc of all-distinct tokens must pass both rules."""
    d = _docs(
        spark,
        [
            (1, "buy now " * 20),            # top bigram covers ~all tokens
            (2, " ".join(f"w{i}" for i in range(40))),  # zero repetition
        ],
    )
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    assert got[1]["keep"] == 0
    assert got[1]["top_bigram_frac"] > 0.5
    assert got[2]["keep"] == 1
    assert got[2]["top_bigram_frac"] < 0.1
    assert got[2]["dup_trigram_frac"] == 0.0


def test_repetition_dup_trigram_rule(spark):
    """Duplicated-trigram coverage fires even when no single bigram
    dominates: two different trigrams, each repeated, in a long
    unique-token tail."""
    tail = " ".join(f"u{i}" for i in range(60))
    d = _docs(spark, [(1, "a b c " * 3 + "x y z " * 3 + tail)])
    row = repetition_stats(d).collect()[0]
    # 18 of 78 tokens sit in repeated bigrams -> under the 0.20 top-
    # bigram cap; but trigram duplicates cover well over 0.18.
    assert row["dup_trigram_frac"] > 0.18
    assert row["keep"] == 0


def test_repetition_empty_and_short_docs(spark):
    """Empty text -> NULL ratios (never a div-by-zero task kill);
    a one-token doc has no bigrams and keeps cleanly."""
    d = _docs(spark, [(1, ""), (2, "hello")])
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    # "" trims/splits to [''] in both engines -> 1 token, no bigrams.
    assert got[1]["top_bigram_cnt"] == 0
    assert got[1]["dup_trigram_frac"] == 0.0
    assert got[2]["keep"] == 1
    assert got[2]["top_bigram_frac"] == 0.0


def test_pq_determinism_and_recall(spark):
    """PQ codes are bit-stable across runs (deterministic Lloyd), the
    codebook is m x k, and ADC top-5 finds the query's own vector at
    rank 1 (dist to self ~ quantization error, far below other
    vectors') for most queries."""
    from resume_jd_matcher_spark.operators.pq import pq_adc_topk, pq_fit_encode
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    codes1, books1 = pq_fit_encode(emb, m=4, k=4, n_iter=2)
    codes2, _ = pq_fit_encode(emb, m=4, k=4, n_iter=2)
    assert sorted(map(tuple, codes1.collect())) == sorted(
        map(tuple, codes2.collect())
    )
    assert books1.count() == 16  # 4 subspaces x 4 codes
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    topk = pq_adc_topk(codes1, books1, qs, k_top=5, m=4).collect()
    assert len(topk) == 50
    by_q = {}
    for r in topk:
        by_q.setdefault(r["query_id"], []).append(r)
    # with 4^4=256 possible codes over 50 vectors, a query's own code
    # cell is tiny -> self should usually win rank 1
    self_hits = sum(
        1
        for q, rows in by_q.items()
        if any(r["vec_id"] == q and r["rn"] == 1 for r in rows)
    )
    assert self_hits >= 6  # of 10; quantization can merge close pairs


def test_pq_fit_is_sample_bounded(spark, monkeypatch):
    """The codebook fit must scan only the FIT_SAMPLE_ROWS lowest-id
    vectors: fitting the full corpus with a cap of 20 yields the exact
    codebooks of fitting the 20-row prefix uncapped — and the ENCODE
    still covers every corpus row."""
    from resume_jd_matcher_spark.operators import pq
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    assert n > 20  # the cap must actually bite
    prefix = emb.orderBy("vec_id").limit(20)
    _, books_prefix = pq.pq_fit_encode(prefix, m=4, k=4, n_iter=2)
    monkeypatch.setattr(pq, "FIT_SAMPLE_ROWS", 20)
    codes_capped, books_capped = pq.pq_fit_encode(emb, m=4, k=4, n_iter=2)
    assert sorted(map(tuple, books_capped.collect())) == sorted(
        map(tuple, books_prefix.collect())
    )
    assert codes_capped.count() == n  # full corpus encoded


def test_pq_capped_fit_matches_full_fit_when_cap_covers_corpus(
    spark, monkeypatch
):
    """With the cap at the corpus size (the default is above it at
    test scale), the prefix sample IS the corpus — codebooks and codes
    must be bit-identical to the default fit, which is why the pq_topk
    oracle needs no sample clause."""
    from resume_jd_matcher_spark.operators import pq
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    codes_a, books_a = pq.pq_fit_encode(emb, m=4, k=4, n_iter=2)
    monkeypatch.setattr(pq, "FIT_SAMPLE_ROWS", emb.count())
    codes_b, books_b = pq.pq_fit_encode(emb, m=4, k=4, n_iter=2)
    assert sorted(map(tuple, books_a.collect())) == sorted(
        map(tuple, books_b.collect())
    )
    assert sorted(map(tuple, codes_a.collect())) == sorted(
        map(tuple, codes_b.collect())
    )


def test_ivf_pq_composition_prunes_and_ranks(spark):
    """IVF-PQ results must (a) only contain vectors from the query's
    probed partitions, (b) agree with full-corpus PQ ADC ranking
    restricted to those candidates — i.e. routing prunes, ADC ranks,
    and the two compose without changing either's math."""
    from resume_jd_matcher_spark.operators.ann import lloyd_kmeans_partition
    from resume_jd_matcher_spark.operators.pq import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_fit_encode,
    )
    from resume_jd_matcher_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    parted, coarse = lloyd_kmeans_partition(
        emb.select("vec_id", "embedding"), n_clusters=4, n_iter=2, out_col="cid"
    )
    codes, books = pq_fit_encode(emb, m=4, k=4, n_iter=2)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    topk, routed = ivf_pq_topk(
        codes, books, parted, coarse, qs, k_top=5, n_probe=2, m=4
    )
    got = topk.collect()
    assert {r["query_id"] for r in got} == {0, 1, 2, 3, 4}

    # (a) every result sits in a probed partition of its query
    probed = {(r["query_id"], r["cid"]) for r in routed.collect()}
    assign = {r["vec_id"]: r["cid"] for r in parted.select("vec_id", "cid").collect()}
    assert all((r["query_id"], assign[r["vec_id"]]) in probed for r in got)

    # (b) == full PQ ranking restricted to the candidate set
    full = pq_adc_topk(codes, books, qs, k_top=10**6, m=4).collect()
    cand_rank: dict[int, list] = {}
    for r in sorted(full, key=lambda r: (r["query_id"], r["dist"], r["vec_id"])):
        if (r["query_id"], assign[r["vec_id"]]) in probed:
            cand_rank.setdefault(r["query_id"], []).append(r["vec_id"])
    want = {
        (q, v, i + 1)
        for q, vs in cand_rank.items()
        for i, v in enumerate(vs[:5])
    }
    assert {(r["query_id"], r["vec_id"], r["rn"]) for r in got} == want


def test_ngram_lm_score_rare_text_scores_lower(spark):
    """The corpus-trained bigram LM assigns higher mean log-prob (lower
    perplexity) to documents made of corpus-frequent bigrams than to a
    document of corpus-unique bigrams."""
    from resume_jd_matcher_spark.operators.textstats import ngram_lm_score

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(9)]
    rows.append((9, "zygote quasar bellows kumquat phantom"))
    rows.append((10, "single"))  # < 2 tokens: no bigrams, no output row
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ngram_lm_score(docs).collect()}
    assert 10 not in out and len(out) == 10
    assert out[0].n_bigrams == 5 and out[9].n_bigrams == 4
    # every common doc scores identically; the rare doc scores lower
    assert len({out[i].avg_logprob for i in range(9)}) == 1
    assert out[9].avg_logprob < out[0].avg_logprob
    assert out[9].ppl > out[0].ppl
    # perplexity is exp(-avg_logprob) of the rounded value
    import math

    assert out[0].ppl == round(math.exp(-out[0].avg_logprob), 2)


def test_token_entropy_flags_repetitive_text(spark):
    import math

    from resume_jd_matcher_spark.operators.textstats import token_entropy

    rows = [
        (1, "spam spam spam spam spam spam"),          # 1 distinct -> H=0
        (2, "one two three four five six"),            # uniform -> H=ln 6
        (3, "a a a a b"),                              # skewed
    ]
    out = {r.doc_id: r for r in token_entropy(spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].entropy == 0.0 and out[1].norm_entropy == 0.0
    assert out[2].entropy == round(math.log(6) + 1e-9, 4)
    assert out[2].norm_entropy == 1.0
    assert 0.0 < out[3].norm_entropy < 1.0
    assert out[3].n_tokens == 5 and out[3].n_distinct == 2
