"""Behavioral tests for the beyond-reference datapipe operators
(dedup families, similarity search, text analysis, multimodal plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.datapipe.dedup import (
    exact_dedup_groups,
    jaccard_on_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_16,
)
from python_etl_mailing_automation_spark.datapipe.multimodal import (
    extract_features,
    with_binary_payload,
)
from python_etl_mailing_automation_spark.datapipe.similarity import (
    ann_bucket_topk,
    cosine_topk,
)
from python_etl_mailing_automation_spark.datapipe.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
)

TEXT_A = "the quick brown fox jumps over the lazy dog near the old river bank"
TEXT_A2 = "the quick brown fox jumps over the lazy dog near the old river bend"
TEXT_B = "completely different words about spark shuffles and partition pruning"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, TEXT_A, "s1"), (2, TEXT_A, "s1"), (3, TEXT_A2, "s1"), (4, TEXT_B, "s1"),
         (5, "tiny doc", "s2")],
        "doc_id long, text string, source string",
    )


def test_exact_dedup_groups(spark, docs):
    groups = {r["keep_doc_id"]: r["n_copies"] for r in exact_dedup_groups(docs).collect()}
    assert groups[1] == 2          # docs 1,2 identical -> representative 1
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_identical_docs_share_all_bands(spark, docs):
    sig = {r["doc_id"]: r for r in minhash_signatures(docs).collect()}
    assert all(sig[1][f"mh_{j}"] == sig[2][f"mh_{j}"] for j in range(1, 7))
    assert all(sig[1][f"band_{b}"] == sig[2][f"band_{b}"] for b in range(1, 4))
    # <3 tokens -> no shingles -> null signature, never a candidate
    assert sig[5]["mh_1"] is None and sig[5]["band_1"] is None


def test_lsh_pairs_find_near_dups(spark, docs):
    sig = minhash_signatures(docs)
    pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in lsh_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs                      # identical -> always candidates
    verified = jaccard_on_pairs(lsh_candidate_pairs(sig), docs).collect()
    jac = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in verified}
    assert jac[(1, 2)] == 1.0


def test_simhash_similar_docs_close(spark, docs):
    sh = {r["doc_id"]: r["simhash16"] for r in simhash_16(docs).collect()}
    assert sh[1] == sh[2]
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far       # 1-word edit closer than unrelated text
    assert 0 <= sh[1] < 2**16


def test_ngram_jaccard_blocked(spark, docs):
    out = ngram_jaccard_pairs(docs, block_col="source", min_jaccard=0.0)
    jac = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in out.collect()}
    assert jac[(1, 2)] == 1.0
    assert jac[(1, 3)] > 0.5        # one-word tail edit
    assert jac[(1, 4)] == 0.0
    assert not any(5 in p for p in jac)  # different block never compared


def test_cosine_topk_planted_duplicate(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]),
         (4, [0.7071, 0.7071, 0.0])],
        "vec_id long, embedding array<float>",
    )
    top = cosine_topk(emb, emb, k=2).collect()
    best = {r["vec_id"]: r["neighbor_id"] for r in top if r["sim_rank"] == 1}
    assert best[1] == 2 and best[2] == 1          # planted duplicate wins
    sims = {(r["vec_id"], r["neighbor_id"]): r["cos_sim"] for r in top}
    assert sims[(1, 2)] == pytest.approx(1.0, abs=1e-9)
    assert sims[(1, 4)] == pytest.approx(0.7071, abs=1e-3)


def test_pq_encode_and_adc_topk(spark):
    """Product quantization semantics: encoding a training vector
    reproduces its fit assignment per subspace; a planted duplicate has
    ADC distance 0 to its twin and ranks first; dim must divide by m."""
    import pytest as _pytest

    from python_etl_mailing_automation_spark.datapipe.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 9.0]),
        (2, [1.0, 0.0, 0.0, 9.0]),     # planted duplicate of 1
        (3, [0.0, 5.0, 5.0, 0.0]),
        (4, [0.1, 4.9, 5.2, 0.3]),     # near 3
        (5, [9.0, 9.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbs = pq_train(emb, m=2, k=3, n_iter=2)
    assert len(cbs) == 2 and all(len(cb) == 3 for cb in cbs)
    assert all(len(c) == 2 for cb in cbs for c in cb)  # dim/m components

    enc = {r.vec_id: (r.code_0, r.code_1) for r in pq_encode(emb, cbs).collect()}
    assert enc[1] == enc[2]            # identical vectors -> identical codes

    top = pq_topk(emb, emb, cbs, k=2).collect()
    best = {r.vec_id: r.neighbor_id for r in top if r.sim_rank == 1}
    adc = {(r.vec_id, r.neighbor_id): r.adc_grid for r in top}
    assert best[1] == 2 and best[2] == 1
    assert adc[(1, 2)] == 0            # same codes -> exact-zero ADC distance
    assert best[3] == 4 and best[4] == 3

    with _pytest.raises(ValueError):
        pq_train(emb, m=3, k=2, n_iter=1)  # 4 % 3 != 0


def test_ann_buckets_only_within_bucket(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.0]), (2, [1.0, 1.0, 0.1]), (3, [-1.0, -1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = ann_bucket_topk(emb, bits=2, k=2).collect()
    got = {(r["vec_id"], r["neighbor_id"]) for r in out}
    assert (1, 2) in got and (2, 1) in got
    assert not any(3 in p for p in got)  # opposite signs -> different bucket


def test_dedup_clusters_transitive_closure(spark):
    """Connected components: a 4-hop chain collapses to one cluster
    (min id) and disconnected docs keep their own id."""
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 7, 9)], "doc_id long, text string"
    )
    # chain 9-4-3-2-1 (forces multi-round propagation) + pair 5-7
    pairs = spark.createDataFrame(
        [(4, 9), (3, 4), (2, 3), (1, 2), (5, 7)], "doc_id_a long, doc_id_b long"
    )
    clusters = dedup_clusters(docs, pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 1, 5: 5, 7: 5}
    clusters.unpersist()


def test_hash_sample_deterministic_and_nested(spark):
    """hash_sample: exact reproducibility, salt independence, and the
    threshold-nesting property (a bigger fraction is a superset)."""
    from python_etl_mailing_automation_spark.datapipe.sampling import hash_sample

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    s10 = {r["doc_id"] for r in hash_sample(docs, 0.1).collect()}
    s10b = {r["doc_id"] for r in hash_sample(docs, 0.1).collect()}
    s30 = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    assert s10 == s10b                      # deterministic
    assert s10 <= s30                       # nested thresholds
    assert 0.05 < len(s10) / 400 < 0.16     # roughly the asked fraction


def test_stratified_sample_caps_each_group(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, "big" if i < 90 else "small", f"d{i}") for i in range(100)],
        "doc_id long, source string, text string",
    )
    out = stratified_sample(docs, "source", 5)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    assert counts == {"big": 5, "small": 5}
    # deterministic pick
    again = stratified_sample(docs, "source", 5)
    assert {r["doc_id"] for r in out.collect()} == {r["doc_id"] for r in again.collect()}


def test_flag_contaminated_shingle_overlap(spark):
    from python_etl_mailing_automation_spark.datapipe.contamination import (
        flag_contaminated,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different sentence with no overlap here"),
            (3, "something about the quick brown fox again"),
            (4, "too short"),  # < 3 tokens of shingle — never flagged
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, "we ask about the quick brown fox in this eval question")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in flag_contaminated(docs, benchmark).collect()}
    assert out[1]["is_contaminated"] == 1 and out[1]["n_shared_shingles"] >= 2
    assert out[3]["is_contaminated"] == 1
    assert out[2]["is_contaminated"] == 0 and out[2]["n_shared_shingles"] == 0
    assert out[4]["is_contaminated"] == 0
    assert len(out) == 4                     # every doc reported


def test_srp_buckets_nondegenerate_on_sign_biased_corpus(spark):
    """VERDICT r1 #3: axis-aligned sign bits collapse an all-positive
    (sign-biased) corpus into ONE bucket — a skewed-key quadratic join at
    scale. Seeded random hyperplanes must keep the bucket histogram
    spread on exactly that corpus."""
    import random

    from python_etl_mailing_automation_spark.datapipe.similarity import sign_bucket

    rng = random.Random(7)
    # 200 vectors, 16 dims, every coordinate strictly positive.
    rows = [
        (i, [abs(rng.gauss(0.0, 1.0)) + 0.1 for _ in range(16)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    hist = (
        emb.select(sign_bucket(F.col("embedding"), 4).alias("bucket"))
        .groupBy("bucket").count().collect()
    )
    n_buckets = len(hist)
    largest = max(r["count"] for r in hist)
    # Axis-aligned bits put ALL 200 rows in bucket 15. A clustered corpus
    # legitimately concentrates (these vectors are pairwise cos≈0.75, so
    # same-bucket IS the LSH contract); the defect being guarded is the
    # total collapse, not mere concentration.
    assert n_buckets >= 6, f"degenerate SRP: only {n_buckets} buckets"
    assert largest < 200 * 0.8, f"collapsed SRP: largest bucket {largest}/200"


def test_text_analysis(spark, docs):
    tc = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert tc[5] == 2
    q = {r["doc_id"]: r for r in quality_score(docs, min_tokens=5).collect()}
    assert q[1]["n_stop"] == 3          # 'the' x3
    li = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert li[1] == "en"
    fp = doc_fingerprint(docs)
    f = {r["doc_id"]: r["fingerprint"] for r in fp.collect()}
    assert f[1] == f[2]
    shuffled = spark.createDataFrame(
        [(9, " ".join(reversed(TEXT_A.split())))], "doc_id long, text string"
    )
    assert doc_fingerprint(shuffled).first()["fingerprint"] == f[1]


def test_multimodal_feature_extraction(spark, docs):
    out = extract_features(with_binary_payload(docs)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[5]["n_bytes"] == len("tiny doc".encode())
    assert by_id[5]["head_hex"] == "tiny doc".encode()[:8].hex()
    assert len(out) == 5


def test_embedding_near_dup_pairs(spark):
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0, 2.0, 3.001]), (3, [-1.0, -2.0, -3.0]),
         (4, [3.0, -2.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(emb, bits=3, min_cos=0.99).collect()
    }
    assert set(pairs) == {(1, 2)}          # near-identical pair found
    assert pairs[(1, 2)] > 0.999           # opposite/orthogonal excluded


def test_ivf_topk_recalls_planted_duplicate(spark):
    from python_etl_mailing_automation_spark.datapipe.similarity import ivf_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.99]),
         (5, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    centroids = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "centroid_id long, embedding array<float>",
    )
    out = ivf_topk(
        corpus.filter("vec_id = 1"), corpus, centroids, n_probe=1, k=2
    ).collect()
    got = [(r["neighbor_id"], r["sim_rank"]) for r in out]
    assert got == [(2, 1), (3, 2)] or got[0] == (2, 1)
    # vec 5 (opposite cell? cos with c100 = -1 < cos with c200 = 0 ->
    # assigned to cell 200) must not appear under n_probe=1 from cell 100.
    assert all(r["neighbor_id"] != 5 for r in out)


def test_curate_corpus_pipeline(spark):
    from python_etl_mailing_automation_spark.datapipe.curation import curate_corpus

    docs = spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_A),            # exact dup -> keep 1
         (3, TEXT_A2),                        # near dup of 1 -> dropped
         (4, TEXT_B),                         # distinct -> kept
         (5, "the a of and to the a of"),     # all stopwords -> quality-gated
         (6, "too short")],                   # under min_tokens -> gated
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curate_corpus(
        docs, min_tokens=5, max_stop_ratio=0.5, near_dup_jaccard=0.8
    ).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_tokens"] == len(TEXT_A.split())
    assert len(out[1]["fingerprint"]) == 32


def test_multimodal_resize_and_frames(spark):
    from python_etl_mailing_automation_spark.datapipe.multimodal import (
        decode_and_resize,
        sample_frames,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "short")], "doc_id long, text string"
    )
    media = with_binary_payload(docs)
    thumbs = {r["doc_id"]: r for r in decode_and_resize(media, width=8, height=8).collect()}
    assert thumbs[1]["width"] == 8 and len(bytes(thumbs[1]["thumb"])) == 1
    frames = sample_frames(media, every_n_bytes=100, max_frames=3).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert by_doc[1] == [0, 1, 2] and by_doc[2] == [0]


def test_bpe_ish_tokens_and_rolling_hash(spark):
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.datapipe.text import (
        bpe_ish_tokens,
        rolling_hash,
    )

    df = spark.createDataFrame(
        [("don't stop2 believin'!",), ("",)], "t string"
    )
    rows = df.select(
        bpe_ish_tokens("t").alias("toks"), rolling_hash("t").alias("rh")
    ).collect()
    assert rows[0]["toks"] == ["don", "'", "t", "stop", "2", "believin", "'", "!"]
    assert 0 <= rows[0]["rh"] < 2**31 - 1
    # deterministic: same text -> same hash; different text -> different
    again = df.select(rolling_hash("t").alias("rh")).collect()
    assert again[0]["rh"] == rows[0]["rh"]
    assert rows[1]["rh"] != rows[0]["rh"]


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_redact_pii_categories_and_order(spark):
    from python_etl_mailing_automation_spark.datapipe.pii import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.com now"),
            (2, "cpf 123.456.789-01 hidden"),  # dotted digits: CPF, not IP
            (3, "call (11) 91234-5678 or (21) 3456-7890"),
            (4, "host 10.0.255.3 up"),
            (5, "clean text only"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["redacted"] == "mail <EMAIL> now"
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 0
    # specificity order: the CPF must win over the looser IPv4 pattern
    assert out[2]["redacted"] == "cpf <CPF> hidden"
    assert out[2]["n_cpf"] == 1 and out[2]["n_ipv4"] == 0
    assert out[3]["n_phone"] == 2 and "<PHONE>" in out[3]["redacted"]
    assert out[4]["redacted"] == "host <IP> up"
    assert out[5]["redacted"] == "clean text only"
    assert sum(out[5][c] for c in ("n_email", "n_cpf", "n_phone", "n_ipv4")) == 0


# ---------------------------------------------------------------------------
# Repetition metrics
# ---------------------------------------------------------------------------


def test_repetition_metrics_gopher_signals(spark):
    from python_etl_mailing_automation_spark.datapipe.text import (
        repetition_metrics,
    )

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam"),
            (2, "all twelve words here are fully distinct tokens indeed no repeats anywhere"),
            (3, "ab"),  # shorter than the 2-gram window
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert out[1]["dup_word_frac"] == pytest.approx(0.9)
    # 9 occurrences of "spam spam" * 2 tokens / 10 tokens
    assert out[1]["top_2gram_frac"] == pytest.approx(1.8)
    assert out[1]["is_repetitive"] == 1
    assert out[2]["dup_word_frac"] == 0.0
    # 11 distinct bigrams, max count 1 -> 2/12
    assert out[2]["top_2gram_frac"] == pytest.approx(2 / 12)
    assert out[2]["is_repetitive"] == 0
    assert out[3]["top_2gram_frac"] == 0.0 and out[3]["n_tokens"] == 1


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def test_pack_sequences_concat_then_chunk(spark):
    from python_etl_mailing_automation_spark.datapipe.packing import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [
            ("s1", 1, 100),
            ("s1", 2, 30),   # starts at 100, crosses the 128 boundary
            ("s1", 3, 0),    # empty doc: spans nothing
            ("s1", 4, 300),  # spans three sequences
            ("s2", 1, 5),    # independent shard restarts at 0
        ],
        "source string, doc_id int, n_tokens long",
    )
    out = pack_sequences(df, seq_len=128)
    got = {(r["source"], r["doc_id"]): r for r in out.collect()}
    a = got[("s1", 1)]
    assert (a["start_tok"], a["first_seq"], a["offset_in_seq"], a["n_seqs"]) == (0, 0, 0, 1)
    b = got[("s1", 2)]
    assert (b["start_tok"], b["first_seq"], b["last_seq"], b["n_seqs"]) == (100, 0, 1, 2)
    c = got[("s1", 3)]
    assert (c["start_tok"], c["n_seqs"]) == (130, 0)
    d = got[("s1", 4)]
    assert (d["start_tok"], d["first_seq"], d["last_seq"], d["n_seqs"]) == (130, 1, 3, 3)
    assert d["offset_in_seq"] == 2
    e = got[("s2", 1)]
    assert (e["start_tok"], e["first_seq"], e["n_seqs"]) == (0, 0, 1)


# ---------------------------------------------------------------------------
# Mixture sampling
# ---------------------------------------------------------------------------


def test_mixture_sample_rates_and_determinism(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        hash_sample,
        mixture_sample,
    )

    rows = [(i, "keep_all" if i % 3 == 0 else ("half" if i % 3 == 1 else "other"))
            for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = mixture_sample(df, "source", {"keep_all": 1.0, "half": 0.5})
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["keep_all"] == 200            # fraction 1.0 keeps everything
    assert 60 <= by_src.get("half", 0) <= 140   # ~100 of 200
    assert "other" not in by_src                # default_fraction=0.0 drops unknowns
    # per-domain rule is exactly the hash_sample rule: same kept ids
    half_ids = {r["doc_id"] for r in out.filter(F.col("source") == "half").collect()}
    ref_ids = {
        r["doc_id"]
        for r in hash_sample(df.filter(F.col("source") == "half"), 0.5).collect()
    }
    assert half_ids == ref_ids
    # superset property across rates
    bigger = mixture_sample(df, "source", {"half": 0.8})
    assert half_ids <= {r["doc_id"] for r in bigger.collect()}


def test_dedup_lines_boilerplate_removal(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_lines

    boiler = "subscribe now"
    rows = [
        (1, f"{boiler}\nalpha content\nshared tail"),
        (2, f"{boiler}\nbeta content\nshared tail"),
        (3, f"{boiler}\ngamma content"),
        (4, boiler),  # every line removed -> empty text
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_lines(df, min_docs=2).collect()
    }
    # boilerplate (3 docs) and "shared tail" (2 docs) both hit min_docs=2
    assert out[1]["text"] == "alpha content"
    assert out[1]["n_lines_kept"] == 1 and out[1]["n_lines_removed"] == 2
    assert out[3]["text"] == "gamma content"
    assert out[3]["n_lines_kept"] == 1 and out[3]["n_lines_removed"] == 1
    assert out[4]["text"] == "" and out[4]["n_lines_kept"] == 0


def test_corpus_stats_exact_shares(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import corpus_stats

    rows = [
        ("web", "a b c"),
        ("web", "d e"),
        ("book", "f g h i j"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {r["source"]: r for r in corpus_stats(df).collect()}
    assert out["web"]["n_docs"] == 2 and out["web"]["n_tokens"] == 5
    assert out["book"]["n_docs"] == 1 and out["book"]["n_tokens"] == 5
    assert out["web"]["avg_tokens"] == 2.5
    assert out["web"]["share_docs"] == 2 / 3
    assert out["web"]["share_tokens"] == 0.5
    assert out["book"]["share_tokens"] == 0.5


def test_budget_select_matches_global_order(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import budget_select

    # buckets: 3 -> 40 tokens (2 docs), 2 -> 60 (2 docs), 1 -> 50
    rows = [
        (1, 3, 20), (2, 3, 20),   # fully-kept bucket (cum 40)
        (3, 2, 30), (4, 2, 30),   # boundary bucket: doc 3 fits (cum 70), doc 4 not
        (5, 1, 50),               # dropped bucket
    ]
    df = spark.createDataFrame(rows, ["doc_id", "quality_bucket", "n_tokens"])
    kept = {r.doc_id for r in budget_select(df, 70).collect()}
    assert kept == {1, 2, 3}
    # helper columns never leak
    assert set(budget_select(df, 70).columns) == {"doc_id", "quality_bucket", "n_tokens"}
    # budget below the first doc keeps nothing; huge budget keeps all
    assert budget_select(df, 10).count() == 0
    assert budget_select(df, 10_000).count() == 5


def test_budget_select_exact_fit_no_straddle(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import budget_select

    df = spark.createDataFrame(
        [(1, 2, 30), (2, 1, 40)], ["doc_id", "quality_bucket", "n_tokens"]
    )
    # budget == exact prefix of bucket 2: no boundary bucket exists
    assert {r.doc_id for r in budget_select(df, 30).collect()} == {1}


def test_winnow_shared_substring_guarantee(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    d = spark.createDataFrame(
        [
            (1, f"intro one {shared} tail one"),
            (2, f"other opening text {shared} closing words here"),
            (3, "nothing in common with the rest of the corpus at all"),
        ],
        ["doc_id", "text"],
    )
    # shared run of 10 tokens >= k + window - 1 = 8 -> guaranteed shared fp
    fps = winnow_fingerprints(d, k=5, window=4)
    f1 = {r.fp for r in fps.filter("doc_id = 1").collect()}
    f2 = {r.fp for r in fps.filter("doc_id = 2").collect()}
    f3 = {r.fp for r in fps.filter("doc_id = 3").collect()}
    assert f1 & f2
    assert not (f1 & f3) and not (f2 & f3)

    pairs = winnow_candidate_pairs(d, k=5, window=4, min_shared=1, max_df=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_winnow_stop_gram_cut_drops_boilerplate(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        winnow_candidate_pairs,
    )

    # every doc shares the same boilerplate sentence; with max_df below the
    # corpus size the hot fingerprints are cut and no pairs survive
    boiler = "subscribe to our newsletter for updates every single day friends"
    d = spark.createDataFrame(
        [(i, f"{boiler} unique tail {i} " + " ".join(f"w{i}_{j}" for j in range(8)))
         for i in range(1, 7)],
        ["doc_id", "text"],
    )
    none = winnow_candidate_pairs(d, k=5, window=4, min_shared=1, max_df=3)
    assert none.count() == 0
    some = winnow_candidate_pairs(d, k=5, window=4, min_shared=1, max_df=100)
    assert some.count() > 0


def test_winnow_short_docs_no_rows(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        winnow_fingerprints,
    )

    d = spark.createDataFrame(
        [(1, "too short"), (2, "alpha bravo charlie delta echo")],
        ["doc_id", "text"],
    )
    # doc 1: < k tokens -> no grams -> no fingerprints; doc 2: exactly k
    # tokens -> 1 gram -> fewer hashes than the window -> hashes pass through
    out = winnow_fingerprints(d, k=5, window=4).collect()
    assert {r.doc_id for r in out} == {2}
    assert len(out) == 1


def test_kmeans_converges_on_separated_blobs(spark):
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
    )

    # two tight blobs far apart; k=2 must separate them regardless of seed
    blob_a = [(i, [10.0, 10.0, 10.0 + i * 0.01]) for i in range(6)]
    blob_b = [(i + 10, [-10.0, -10.0, -10.0 - i * 0.01]) for i in range(6)]
    df = spark.createDataFrame(blob_a + blob_b, ["vec_id", "embedding"])
    assigned, cents = kmeans_fit_assign(df, k=2, n_iter=2)
    rows = assigned.collect()
    a_clusters = {r.cluster_id for r in rows if r.vec_id < 10}
    b_clusters = {r.cluster_id for r in rows if r.vec_id >= 10}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    assert len(cents) == 2 and len(cents[0]) == 3
    # centroid of blob A is near (10, 10, ~10.025)
    ca = cents[next(iter(a_clusters))]
    assert abs(ca[0] - 10.0) < 1e-9 and abs(ca[2] - 10.025) < 1e-6


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
    )

    # k=3 seeds from the 3 lowest ids, but all points sit in one blob:
    # clusters that lose every member must keep their previous centroid
    df = spark.createDataFrame(
        [(i, [1.0 + i * 1e-6, 2.0]) for i in range(8)], ["vec_id", "embedding"]
    )
    assigned, cents = kmeans_fit_assign(df, k=3, n_iter=2)
    assert assigned.count() == 8
    assert len(cents) == 3 and all(len(c) == 2 for c in cents)


def test_kmeans_assign_tie_prefers_lower_cid(spark):
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_assign,
    )

    df = spark.createDataFrame([(1, [0.0, 0.0])], ["vec_id", "embedding"])
    out = kmeans_assign(df, [[1.0, 0.0], [-1.0, 0.0]]).collect()[0]
    assert out.cluster_id == 0 and out.dist_sq == 1.0


def test_semantic_dedup_drops_planted_duplicates(spark):
    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
        semantic_dedup,
    )

    # blob A holds an exact duplicate pair (1, 2) and a distinct member 3;
    # blob B is far away with no internal dups
    rows = [
        (1, [10.0, 0.0, 0.0]),
        (2, [10.0, 0.0, 0.0]),      # duplicate of 1 -> dropped (higher id)
        (3, [0.0, 10.0, 0.0]),      # same cluster maybe, cos 0 -> kept
        (11, [-10.0, -10.0, 0.0]),
        (12, [-10.0, -9.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, _ = kmeans_fit_assign(df, k=2, n_iter=2)
    kept = semantic_dedup(assigned, min_cos=0.99)
    ids = {r.vec_id for r in kept.collect()}
    assert 2 not in ids
    assert {1, 3, 11}.issubset(ids)
    assert "cluster_id" in kept.columns and "dist_sq" not in kept.columns


def test_top_ngrams_counts_and_tiebreak(spark):
    from python_etl_mailing_automation_spark.datapipe.text import top_ngrams

    d = spark.createDataFrame(
        [
            (1, "a b c a b c"),       # "a b c" x2, "b c a" x1, "c a b" x1
            (2, "a b c d"),           # "a b c" x1, "b c d" x1
            (3, "zz"),                # too short for trigrams
        ],
        ["doc_id", "text"],
    )
    rows = top_ngrams(d, n=3, top_k=3).collect()
    assert [r.gram for r in rows][0] == "a b c"
    top = rows[0]
    assert top.n_occurrences == 3 and top.n_docs == 2
    # deterministic tie-break: equal-count grams come in string order
    rest = [(r.gram, r.n_occurrences) for r in rows[1:]]
    assert rest == sorted(rest, key=lambda x: (-x[1], x[0]))


def test_normalize_text_folding_and_digest(spark):
    from python_etl_mailing_automation_spark.datapipe.text import normalize_text

    d = spark.createDataFrame(
        [
            (1, "  Olá,   MUNDO!  Ação à côté — ñandú…  "),
            (2, "ola mundo acao a cote nandu"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in normalize_text(d).collect()}
    assert rows[1].norm_text == "ola mundo acao a cote nandu"
    # canonical digest collides for texts equal after normalization
    assert rows[1].norm_digest == rows[2].norm_digest


def test_dedup_against_store_incremental(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_against_store,
    )
    from python_etl_mailing_automation_spark.datapipe.text import normalize_text

    batch = spark.createDataFrame(
        [
            (1, "Fresh content one"),
            (2, "Already ingested doc"),   # in store (after normalization)
            (3, "fresh content ONE"),      # intra-batch dup of 1 -> dropped
            (4, "brand new content"),
        ],
        ["doc_id", "text"],
    )
    store = normalize_text(
        spark.createDataFrame(
            [(100, "already INGESTED doc!")], ["doc_id", "text"]
        )
    )
    kept = dedup_against_store(batch, store)
    assert {r.doc_id for r in kept.collect()} == {1, 4}
    # idempotent: running the survivors against the same store again is a no-op
    again = dedup_against_store(kept, store)
    assert {r.doc_id for r in again.collect()} == {1, 4}


def test_chunk_documents_grid_and_overlap(spark):
    from python_etl_mailing_automation_spark.datapipe.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens
            (2, "a b c"),                            # shorter than one chunk
            (3, ""),                                 # empty -> one empty chunk
        ],
        ["doc_id", "text"],
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    }
    # doc 1: stride 3 -> starts 0,3,6,9
    assert {(i, c) for (i, c) in rows if i == 1} == {(1, 0), (1, 1), (1, 2), (1, 3)}
    assert rows[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert rows[(1, 3)]["chunk_text"] == "t9"            # short tail chunk
    assert rows[(1, 3)]["n_chunk_tokens"] == 1
    assert rows[(1, 1)]["chunk_start"] == 3
    assert rows[(2, 0)]["chunk_text"] == "a b c"
    # the whitespace tokenizer maps "" to one empty token (battery-wide
    # convention, engine-identical): one empty chunk
    assert rows[(3, 0)]["chunk_text"] == "" and rows[(3, 0)]["n_chunk_tokens"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_tfidf_topk_ranks_rare_terms_first(spark):
    from python_etl_mailing_automation_spark.datapipe.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common rare2"),
            (3, "common other other"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["tfidf_rank"]): r for r in tfidf_topk(docs, k=2).collect()
    }
    # doc 1: rare1 tf=1 df=1 (score 1.0) beats common tf=3 df=3 (score 1.0)?
    # equal scores tie-break on term: "common" < "rare1".
    assert out[(1, 1)]["term"] == "common" and out[(1, 1)]["score"] == 1.0
    assert out[(1, 2)]["term"] == "rare1"
    # doc 3: other tf=2 df=1 -> score 2.0 outranks common 1/3
    assert out[(3, 1)]["term"] == "other" and out[(3, 1)]["score"] == 2.0
    assert out[(3, 2)]["term"] == "common"
    assert out[(3, 2)]["df"] == 3


def test_shard_assign_is_dense_deterministic_partition(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import shard_assign

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(50)], ["doc_id", "text"]
    )
    a = shard_assign(docs, 4).collect()
    b = shard_assign(docs, 4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # every shard's positions are exactly 0..n-1 (dense, no gaps)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    assert sum(len(v) for v in by_shard.values()) == 50
    import pytest as _pytest

    with _pytest.raises(ValueError):
        shard_assign(docs, 0)


def test_ann_bucket_recall_vs_exact(spark, sf_dir):
    """Measured recall evidence for the SRP bucket path: against the
    exact cosine top-1 over the real embeddings table, the 4-bit bucket
    join must recover a meaningful fraction of true nearest neighbors
    (perfect recall is impossible by design — 16 buckets partition the
    corpus — but a degenerate or sign-biased hash collapses recall
    toward 1/n_buckets; this guards the useful-recall floor)."""
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        ann_bucket_topk,
        cosine_topk,
    )
    from python_etl_mailing_automation_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    exact = {
        r["vec_id"]: r["neighbor_id"]
        for r in cosine_topk(emb, emb, k=1).collect()
    }
    approx: dict[int, set[int]] = {}
    for r in ann_bucket_topk(emb, bits=4, k=3).collect():
        approx.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    hits = sum(1 for v, nn in exact.items() if nn in approx.get(v, set()))
    recall = hits / len(exact)
    # The synthetic corpus has no planted near-dups (max cosine ~0.47),
    # so absolute recall is bounded by how weakly "nearest" separates
    # from random — the meaningful invariant is the margin over the
    # random-bucketing floor of 1/16. Seeded planes + fixed data make
    # the measurement exact (0.158 ≈ 2.5× floor); assert 2× to guard
    # degeneration without flake room.
    assert recall >= 2.0 / 16, f"bucket ANN recall at random floor: {recall:.3f}"


def test_fused_simhash_matches_explode_form(spark, sf_dir):
    """with_simhash16 (per-row fold, zero shuffle) must be bit-identical
    to simhash_16 (explode → groupBy) on the real documents table, and
    its plan must contain no exchange at all."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        simhash_16,
        with_simhash16,
    )
    from python_etl_mailing_automation_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    agg = {r["doc_id"]: r["simhash16"] for r in simhash_16(docs).collect()}
    fused = {
        r["doc_id"]: r["simhash16"]
        for r in with_simhash16(docs).select("doc_id", "simhash16").collect()
    }
    assert fused == agg
    p = (
        with_simhash16(docs)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    )
    assert "Exchange" not in p


def test_simhash64_matches_reference_bits(spark, docs):
    """with_simhash64 must reproduce the Charikar construction exactly:
    an independent pure-python md5 implementation (two 32-bit halves,
    ±1 votes, sign-bit packed as −2^63) is the bit oracle."""
    import hashlib
    import re

    from python_etl_mailing_automation_spark.datapipe.dedup import with_simhash64

    got = {r["doc_id"]: r["simhash64"] for r in with_simhash64(docs).collect()}
    for row in docs.collect():
        votes = [0] * 64
        for t in re.split(r"\s+", row["text"].strip()):
            h = hashlib.md5(t.encode()).hexdigest()
            v = (int(h[0:8], 16) << 32) | int(h[8:16], 16)
            for k in range(64):
                votes[k] += 1 if (v >> k) & 1 else -1
        fp = sum(1 << k for k in range(64) if votes[k] >= 0)
        if fp >= 2**63:
            fp -= 2**64
        assert got[row["doc_id"]] == fp


def test_simhash_hamming_pairs_banded_exact(spark, docs):
    """Identical docs pair at distance 0; the one-word edit lands within
    the radius; unrelated text does not; cross-radius pairs are absent.
    max_hamming > 3 must be rejected (4×16 banding is only
    pigeonhole-exact to 3)."""
    import pytest as _pytest

    from python_etl_mailing_automation_spark.datapipe.dedup import (
        simhash_hamming_pairs,
        with_simhash64,
    )

    fp = {r["doc_id"]: r["simhash64"] for r in with_simhash64(docs).collect()}
    out = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    assert out[(1, 2)] == 0                       # identical texts
    # every reported pair's hamming matches the fingerprints, and every
    # true <=3 pair is reported (banding loses nothing at this radius)
    for (a, b), ham in out.items():
        assert bin(fp[a] ^ fp[b]).count("1") == ham <= 3
    for a in fp:
        for b in fp:
            if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3:
                assert (a, b) in out
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(docs, max_hamming=4)


def test_length_quantiles_exact_interpolation(spark):
    """length_quantiles must equal numpy's linear-interpolation
    percentiles (the q·(n−1) rank convention Spark's percentile and
    DuckDB's quantile_cont share)."""
    import numpy as np

    from python_etl_mailing_automation_spark.datapipe.stats import (
        length_quantiles,
    )

    rows = [(i, " ".join(["w"] * n), "s1") for i, n in enumerate([1, 3, 3, 7, 10, 50])]
    rows += [(100 + i, " ".join(["w"] * n), "s2") for i, n in enumerate([2, 4])]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in length_quantiles(df).collect()}
    s1 = np.array([1, 3, 3, 7, 10, 50], dtype=float)
    for q, col in [(0.25, "p25_tokens"), (0.5, "p50_tokens"), (0.9, "p90_tokens"), (0.99, "p99_tokens")]:
        assert out["s1"][col] == np.percentile(s1, q * 100)
    assert out["s1"]["min_tokens"] == 1 and out["s1"]["max_tokens"] == 50
    assert out["s2"]["n_docs"] == 2 and out["s2"]["p50_tokens"] == 3.0


def test_updated_fingerprint_store_closes_the_loop(spark, docs):
    """dedup_against_store -> updated_fingerprint_store: a re-run of the
    SAME batch against the updated ledger accepts nothing."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_against_store,
        updated_fingerprint_store,
    )
    from python_etl_mailing_automation_spark.datapipe.text import normalize_text

    store = normalize_text(docs.filter(F.col("doc_id") == 4)).select("norm_digest")
    accepted = dedup_against_store(docs, store)
    ids = {r["doc_id"] for r in accepted.select("doc_id").collect()}
    assert 4 not in ids and 1 in ids and 2 not in ids  # 2 is 1's intra-batch dup
    new_store = updated_fingerprint_store(store, accepted)
    assert dedup_against_store(docs, new_store).count() == 0
    # ledger is digest-only and exactly deduplicated
    assert new_store.columns == ["norm_digest"]
    assert new_store.count() == new_store.distinct().count()


def test_star_clusters_match_propagation_on_chain_and_clique(spark):
    """large-star/small-star CC (Kiveris et al.) must produce exactly
    min-label propagation's labels, in far fewer rounds on a chain (the
    propagation worst case: rounds = diameter vs O(log n) stars —
    measured 6 vs 49 rounds on a 60-node chain)."""
    import random

    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    rng = random.Random(7)
    ids = list(range(40))
    rng.shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(24)]  # 25-node chain
    clique_nodes = ids[25:31]
    clique = [(a, b) for i, a in enumerate(clique_nodes) for b in clique_nodes[i + 1 :]]
    pairs = spark.createDataFrame(chain + clique, "doc_id_a long, doc_id_b long")
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    star = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters_star(docs, pairs).collect()}
    prop = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, pairs, max_iterations=100).collect()
    }
    assert star == prop
    # labels really are component minima: chain nodes all share min(chain)
    chain_nodes = set(ids[:25])
    assert {star[n] for n in chain_nodes} == {min(chain_nodes)}


def test_star_clusters_converge_in_one_round_on_star_input(spark, caplog):
    """The star-forest convergence test (round-10: one skinny aggregate
    per round instead of two exceptAll set differences) must recognise
    an input that is ALREADY a star forest and stop after a single
    round, and still label multi-src / both-sides nodes correctly when
    the input is NOT yet a forest (dst with two srcs, chained dsts)."""
    import logging

    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dedup_clusters_star,
    )

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # two disjoint stars rooted at their component minima: 0-{1,2}, 3-{4,5}
    stars = spark.createDataFrame(
        [(0, 1), (0, 2), (3, 4), (3, 5)], "doc_id_a long, doc_id_b long"
    )
    with caplog.at_level(
        logging.INFO, logger="python_etl_mailing_automation_spark.datapipe.dedup"
    ):
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters_star(docs, stars).collect()
        }
    rounds = [m for m in caplog.messages if "non-star nodes" in m]
    assert len(rounds) == 1, rounds
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6, 7: 7, 8: 8, 9: 9}
    # NOT a star forest: 5 is a dst twice ((1,5),(3,5)) and 3 is on both
    # sides ((1,3),(3,5)) — the check must keep iterating until the
    # merged component collapses to one star under min 1
    tangle = spark.createDataFrame(
        [(1, 5), (3, 5), (1, 3), (2, 4)], "doc_id_a long, doc_id_b long"
    )
    out2 = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_star(docs, tangle).collect()
    }
    assert out2[1] == out2[3] == out2[5] == 1
    assert out2[2] == out2[4] == 2


def test_featurize_hashing_matches_reference_counts(spark, docs):
    """The hashing-trick vector must equal an independent python
    md5-bucket count, and total mass must equal the token count."""
    import hashlib
    import re

    from python_etl_mailing_automation_spark.datapipe.text import featurize_hashing

    got = {r["doc_id"]: list(r["embedding"]) for r in featurize_hashing(docs).collect()}
    for row in docs.collect():
        toks = re.split(r"\s+", row["text"].strip())
        counts = [0.0] * 64
        for t in toks:
            counts[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64] += 1.0
        assert got[row["doc_id"]] == counts
        assert sum(got[row["doc_id"]]) == len(toks)


def test_lm_quality_score_hand_computed(spark):
    from python_etl_mailing_automation_spark.datapipe.lm import (
        bigram_probs,
        doc_bigrams,
        lm_quality_score,
    )

    # corpus bigrams: "a b" x2 (docs 1,2), "b a" x1, "a c" x1, so
    # contexts: a->3 (b:2, c:1), b->1 (a:1)
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "solo")], ["doc_id", "text"]
    )
    probs = {
        r.bg: r.p for r in bigram_probs(doc_bigrams(docs)).collect()
    }
    assert probs == {"a b": 2 / 3, "b a": 1 / 1, "a c": 1 / 3}
    out = {r.doc_id: r for r in lm_quality_score(docs).collect()}
    # doc1: mean(2/3, 1, 1/3) = 2/3 on the floor(p*2^40) grid
    assert out[1].n_bigrams == 3
    s = sum(int(p * 2**40) for p in (2 / 3, 1.0, 1 / 3))
    assert out[1].avg_p == s / 3 / 2**40
    assert abs(out[1].avg_p - 2 / 3) < 1e-9
    assert out[2].n_bigrams == 1 and out[2].avg_p == (int((2 / 3) * 2**40)) / 2**40
    # single-token doc: zero bigrams, NULL score
    assert out[3].n_bigrams == 0 and out[3].avg_p is None


def test_lm_quality_score_external_model_oov(spark):
    from python_etl_mailing_automation_spark.datapipe.lm import (
        bigram_probs,
        doc_bigrams,
        lm_quality_score,
    )

    train = spark.createDataFrame([(1, "x y x y")], ["doc_id", "text"])
    probs = bigram_probs(doc_bigrams(train))
    # "x y" in-vocab (p=1 under context x... contexts: x->2 (y:2), y->1 (x:1))
    score = lm_quality_score(
        spark.createDataFrame([(9, "x y zzz")], ["doc_id", "text"]),
        probs=probs,
        broadcast_probs=True,
    ).collect()[0]
    # OOV bigram "y zzz" drops out of the average (inner-join semantics)
    assert score.n_bigrams == 1 and score.avg_p == 1.0


def test_dup_span_stats_hand_computed(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dup_span_stats,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x a b c"), (3, "p q")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dup_span_stats(docs, k=3).collect()}
    # "a b c" occurs in docs 1 and 2 -> duplicated window
    assert (out[1].n_windows, out[1].n_dup_windows, out[1].dup_tokens) == (2, 1, 3)
    assert out[1].dup_frac == 3 / 4
    assert (out[2].n_windows, out[2].n_dup_windows, out[2].dup_tokens) == (2, 1, 3)
    # shorter than k: zero windows, zero coverage
    assert (out[3].n_windows, out[3].n_dup_windows, out[3].dup_frac) == (0, 0, 0.0)


def test_dup_span_stats_within_doc_and_overlap_merge(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        dup_span_stats,
    )

    # every 3-window repeats WITHIN the one doc; overlapping covered
    # positions merge to the full token range
    docs = spark.createDataFrame([(7, "a b c a b c a b")], ["doc_id", "text"])
    r = dup_span_stats(docs, k=3).collect()[0]
    assert (r.n_windows, r.n_dup_windows, r.dup_tokens, r.dup_frac) == (6, 6, 8, 1.0)


def test_temperature_sample_rates_and_determinism(spark):
    import hashlib

    import pytest as _pytest

    from python_etl_mailing_automation_spark.datapipe.sampling import (
        temperature_sample,
    )

    rows = (
        [(f"a{0}", "a")]
        + [(f"b{i}", "b") for i in range(4)]
        + [(f"c{i}", "c") for i in range(16)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "dom"])
    out = {r.doc_id for r in temperature_sample(df, "dom", temperature=2.0).collect()}
    # T=2: r_s = sqrt(n_min/n_s) -> thresholds a:65536 b:32768 c:16384
    thr = {"a": 65536, "b": 32768, "c": 16384}
    expect = {
        d
        for d, dom in rows
        if int(hashlib.md5(f"{d}|".encode()).hexdigest()[:4], 16) < thr[dom]
    }
    assert out == expect
    assert {d for d, dom in rows if dom == "a"} <= out  # smallest source intact
    with _pytest.raises(ValueError):
        temperature_sample(df, "dom", temperature=3.0)

    # NULL domain is a SOURCE, not a silent drop: the null-safe rate
    # join tempers unlabeled rows like any other domain (here NULL is
    # the unique smallest source -> all its rows kept)
    withnull = spark.createDataFrame(
        [("n0", None)] + [(f"b{i}", "b") for i in range(4)],
        "doc_id string, dom string",
    )
    outn = {
        r.doc_id
        for r in temperature_sample(withnull, "dom", temperature=2.0).collect()
    }
    assert "n0" in outn


def test_quantile_bucket_assign_global_and_grouped(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import (
        quantile_bucket_assign,
    )

    # values 1..8: quartile boundaries (2.75, 4.5, 6.25) -> buckets 0-3
    df = spark.createDataFrame(
        [(i, "g1" if i <= 4 else "g2", i) for i in range(1, 9)],
        ["doc_id", "g", "v"],
    )
    out = {r.doc_id: r.bucket for r in quantile_bucket_assign(df, "v").collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 3, 8: 3}
    # per-group: g1 has 1..4 (boundaries 1.75, 2.5, 3.25), g2 has 5..8
    outg = {
        r.doc_id: r.bucket
        for r in quantile_bucket_assign(df, "v", group_col="g").collect()
    }
    assert outg == {1: 0, 2: 1, 3: 2, 4: 3, 5: 0, 6: 1, 7: 2, 8: 3}
    # NULL values must get a NULL bucket, not silently land in bucket 0
    dfn = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4), (9, None)],
        "doc_id int, v int",
    )
    outn = {r.doc_id: r.bucket for r in quantile_bucket_assign(dfn, "v").collect()}
    assert outn[9] is None and outn[1] == 0


def test_mad_outliers_flags_and_degenerate_group(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import mad_outliers

    # g1: values 1..9 plus a 1000 spike -> spike flagged, rest not.
    # g2: all-identical values -> MAD 0 -> nothing flagged by convention.
    rows = [(i, "g1", v) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    rows += [(100 + i, "g2", 7) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "g", "v"])
    out = {r.doc_id: r.is_outlier for r in mad_outliers(df, "v", group_col="g").collect()}
    assert out[9] is True  # the 1000 spike
    assert all(out[i] is False for i in range(9))
    assert all(out[100 + i] is False for i in range(6))


def test_upsert_latest_versions_ties_and_nulls(spark):
    from python_etl_mailing_automation_spark.operators.dedup import upsert_latest

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 5), (3, "c", None), (4, "d", 2)],
        "k int, payload string, version int",
    )
    updates = spark.createDataFrame(
        [(1, "a2", 2),   # higher version wins
         (2, "b2", 5),   # tie -> update wins
         (3, "c2", None),  # both null -> update wins (src tiebreak)
         (5, "e", 1)],   # brand-new key inserted
        "k int, payload string, version int",
    )
    out = {r.k: (r.payload, r.version) for r in
           upsert_latest(base, updates, key="k", version_col="version").collect()}
    assert out == {
        1: ("a2", 2),
        2: ("b2", 5),
        3: ("c2", None),
        4: ("d", 2),
        5: ("e", 1),
    }


def test_token_tv_divergence_hand_computed(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import (
        token_tv_divergence,
    )

    # s1: a a b (W_s=3); s2: b c c (W_s=3); corpus: a:2 b:2 c:2 (W=6)
    docs = spark.createDataFrame(
        [(1, "s1", "a a b"), (2, "s2", "b c c")], ["doc_id", "source", "text"]
    )
    out = {
        r.source: r
        for r in token_tv_divergence(docs, group_col="source").collect()
    }
    # TV(s1) = 1/2*(|2/3-1/3| + |1/3-1/3| + |0-1/3|) = 1/3; symmetric s2
    assert out["s1"].n_tokens == 3 and out["s2"].n_tokens == 3
    assert abs(out["s1"].tv_divergence - 1 / 3) < 1e-12
    assert out["s1"].tv_divergence == out["s2"].tv_divergence
    # identical distribution -> zero divergence
    same = spark.createDataFrame(
        [(1, "x", "a b"), (2, "y", "a b")], ["doc_id", "source", "text"]
    )
    tv = {r.source: r.tv_divergence for r in
          token_tv_divergence(same, group_col="source").collect()}
    assert tv == {"x": 0.0, "y": 0.0}


def test_value_histogram_bins_and_degenerate(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import (
        value_histogram,
    )

    # values 0..10 in 5 bins of width 2; max folds into the last bin
    df = spark.createDataFrame([(i, float(i)) for i in range(11)], ["id", "v"])
    out = {r.bin: (r.bin_lo, r.bin_hi, r.n) for r in
           value_histogram(df, "v", n_bins=5).collect()}
    assert out == {
        0: (0.0, 2.0, 2), 1: (2.0, 4.0, 2), 2: (4.0, 6.0, 2),
        3: (6.0, 8.0, 2), 4: (8.0, 10.0, 3),
    }
    # degenerate: all-equal values land in bin 0
    same = spark.createDataFrame([(i, 5.0) for i in range(4)], ["id", "v"])
    rows = value_histogram(same, "v", n_bins=5).collect()
    assert len(rows) == 1 and rows[0].bin == 0 and rows[0].n == 4


def test_pseudonymize_joinable_unlinkable_null_preserving(spark):
    from python_etl_mailing_automation_spark.datapipe.pii import pseudonymize

    df = spark.createDataFrame(
        [(1, "alice", "alice"), (2, "alice", "bob"), (3, None, "alice")],
        ["id", "a", "b"],
    )
    out = {r.id: (r.a, r.b) for r in pseudonymize(df, ["a", "b"], salt="k").collect()}
    # equal values -> equal tokens within a column (joinability)
    assert out[1][0] == out[2][0]
    # same value across DIFFERENT columns -> different tokens (unlinkable)
    assert out[1][0] != out[1][1]
    assert out[3][1] == out[1][1]
    # NULL stays NULL; different salt rewrites the token space
    assert out[3][0] is None
    out2 = {r.id: r.a for r in pseudonymize(df, ["a"], salt="k2").collect()}
    assert out2[1] != out[1][0]
    assert all(len(v) == 16 for v in (out[1][0], out[1][1]))


def test_zscore_and_exact_corr_hand_computed(spark):
    import math

    from python_etl_mailing_automation_spark.datapipe.stats import (
        exact_corr,
        zscore_normalize,
    )

    # values 1..5: mean 3, population var 2
    df = spark.createDataFrame([(i, i) for i in range(1, 6)], ["id", "v"])
    z = {r.id: r.zscore for r in zscore_normalize(df, "v").collect()}
    for i in range(1, 6):
        assert abs(z[i] - (i - 3) / math.sqrt(2)) < 1e-12
    # constant column -> NULL scores
    const = spark.createDataFrame([(i, 7) for i in range(3)], ["id", "v"])
    assert all(
        r.zscore is None for r in zscore_normalize(const, "v").collect()
    )
    # exact corr: y = 2x + 1 -> r = 1; y = -x -> r = -1; x constant -> NULL
    pairs = spark.createDataFrame(
        [("a", i, 2 * i + 1) for i in range(1, 6)]
        + [("b", i, -i) for i in range(1, 6)]
        + [("c", 4, i) for i in range(1, 6)],
        ["g", "x", "y"],
    )
    out = {r.g: r.r for r in exact_corr(pairs, "x", "y", group_col="g").collect()}
    # sqrt(vx)*sqrt(vy) rounds once each: deterministic, within 1 ulp of
    # the algebraic +/-1
    assert abs(out["a"] - 1.0) < 1e-15 and abs(out["b"] + 1.0) < 1e-15
    assert out["c"] is None


def test_remove_dup_spans_excises_and_passes_through(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x a b c"), (3, "p q r s t")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in remove_dup_spans(docs, k=3).collect()}
    # "a b c" duplicated across docs 1,2 -> covered tokens excised
    assert out[1].clean_text == "d" and out[1].n_removed == 3
    assert out[2].clean_text == "x" and out[2].n_removed == 3
    # untouched doc passes through verbatim
    assert out[3].clean_text == "p q r s t" and out[3].n_removed == 0
    # fully-duplicated doc -> empty string (not NULL)
    dup2 = spark.createDataFrame(
        [(1, "m n o"), (2, "m n o")], ["doc_id", "text"]
    )
    full = {r.doc_id: r for r in remove_dup_spans(dup2, k=3).collect()}
    assert full[1].clean_text == "" and full[1].n_removed == 3


def test_triangle_count_known_graphs(spark):
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        triangle_count,
    )

    def n_tri(edge_list):
        df = spark.createDataFrame(edge_list, "src int, dst int")
        return triangle_count(df).collect()[0].n_triangles

    # K4 has 4 triangles; direction/duplication/self-loops are normalized
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert n_tri(k4) == 4
    assert n_tri([(1, 2), (2, 3), (3, 1)]) == 1
    assert n_tri([(2, 1), (3, 2), (1, 3), (1, 1)]) == 1  # reversed + loop
    assert n_tri([(1, 2), (2, 3), (3, 4)]) == 0  # path: no triangle


def test_upsert_latest_preserves_64bit_version_precision(spark):
    """Versions above 2^53 must not collapse into double-precision ties
    (epoch-nanosecond CDC versions live there)."""
    from python_etl_mailing_automation_spark.operators.dedup import (
        upsert_latest,
    )

    base = spark.createDataFrame(
        [(1, "newer_base", 2**53 + 1)], "k int, p string, version long"
    )
    updates = spark.createDataFrame(
        [(1, "older_update", 2**53)], "k int, p string, version long"
    )
    out = upsert_latest(base, updates, key="k", version_col="version").collect()
    assert out[0].p == "newer_base" and out[0].version == 2**53 + 1


def test_exact_skew_kurt_hand_computed(spark):
    import math

    from python_etl_mailing_automation_spark.datapipe.stats import (
        exact_skew_kurt,
    )

    # symmetric 1..5: skew 0; kurtosis m4/m2^2 = (sum d^4/5)/(2^2)
    df = spark.createDataFrame([("g", i) for i in range(1, 6)], ["g", "v"])
    r = exact_skew_kurt(df, "v", group_col="g").collect()[0]
    d4 = sum((i - 3) ** 4 for i in range(1, 6)) / 5
    assert r.n == 5 and r.skewness == 0.0
    assert abs(r.kurtosis - d4 / 4.0) < 1e-12
    # right-skewed: 0,0,0,4 -> m2=3, m3=(3*(-1)^3+27)/4=6, g1=6/3^1.5
    df2 = spark.createDataFrame([("g", v) for v in (0, 0, 0, 4)], ["g", "v"])
    r2 = exact_skew_kurt(df2, "v", group_col="g").collect()[0]
    assert abs(r2.skewness - 6 / (3 * math.sqrt(3))) < 1e-12
    # constant column -> NULLs
    df3 = spark.createDataFrame([("g", 7)] * 3, ["g", "v"])
    r3 = exact_skew_kurt(df3, "v", group_col="g").collect()[0]
    assert r3.skewness is None and r3.kurtosis is None


def test_gopher_quality_rules(spark):
    from python_etl_mailing_automation_spark.datapipe.text import gopher_quality

    good = "the cat and dog have fun with that tree " * 6  # 60 words, stops
    short = "tiny doc"
    symbolic = ("the of and that have with " + "# " * 30) * 2
    bullets = "\n".join(["- the item of note and that have with be to"] * 10)
    dup_lines = "\n".join(
        ["the same line of text and that have with"] * 6
        + [f"unique line {i} of text and that have with" for i in range(4)]
    )
    df = spark.createDataFrame(
        [
            (1, good),
            (2, short),
            (3, symbolic),
            (4, bullets),
            (5, dup_lines),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in gopher_quality(df, min_words=20).collect()}
    assert out[1].gopher_pass == 1
    assert out[2].gopher_pass == 0 and out[2].n_words == 2
    assert out[3].gopher_pass == 0 and out[3].symbol_ratio > 0.1
    # 10/10 bullet lines > 0.9 cap fails; dup-line frac 5/10 > 0.3 fails
    assert out[4].gopher_pass == 0 and out[4].bullet_line_frac == 1.0
    assert out[5].gopher_pass == 0 and abs(out[5].dup_line_frac - 0.5) < 1e-12
    # per-rule measures on the good doc
    assert out[1].stop_hits >= 2 and out[1].alpha_word_frac == 1.0


def test_url_canonical_and_dedup(spark):
    from python_etl_mailing_automation_spark.datapipe.web import (
        url_canonical,
        url_dedup,
        url_host,
    )

    rows = [
        (1, "HTTPS://WWW.Example.COM/Path/Page/"),
        (2, "http://example.com/Path/Page?utm_source=x&utm_medium=y"),
        (3, "example.com/Path/Page#section-2"),
        (4, "https://example.com/Path/Page?id=7&utm_source=x"),
        (5, "https://other.org/Path/Page"),
        (6, "https://example.com/path/page"),  # different path CASE: distinct
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    canon = {
        r.doc_id: (r.c, r.h)
        for r in df.select(
            "doc_id",
            url_canonical("url").alias("c"),
            url_host("url").alias("h"),
        ).collect()
    }
    assert canon[1] == ("example.com/Path/Page", "example.com")
    assert canon[2][0] == "example.com/Path/Page"
    assert canon[3][0] == "example.com/Path/Page"
    assert canon[4][0] == "example.com/Path/Page?id=7"
    assert canon[5][0] == "other.org/Path/Page"
    assert canon[6][0] == "example.com/path/page"
    kept = {r.doc_id for r in url_dedup(df).collect()}
    # 1,2,3 collapse (min id 1 kept); 4, 5, 6 are distinct canons
    assert kept == {1, 4, 5, 6}

    # review-confirmed hazards: tracking strip must be [?&]-anchored
    # (href= keeps its value, /ref= path segments survive) and two
    # leading tracking params must collapse cleanly (no stray '&')
    hazards = spark.createDataFrame(
        [
            (1, "https://a.com/p?href=abc"),
            (2, "https://a.com/dp/B01/ref=sr_1_1"),
            (3, "https://a.com/p?utm_source=a&utm_medium=b&x=1"),
            (4, "https://a.com/p?x=1"),
        ],
        ["doc_id", "url"],
    )
    hz = {
        r.doc_id: r.c
        for r in hazards.select(
            "doc_id", url_canonical("url").alias("c")
        ).collect()
    }
    assert hz[1] == "a.com/p?href=abc"
    assert hz[2] == "a.com/dp/B01/ref=sr_1_1"
    assert hz[3] == "a.com/p?x=1" and hz[3] == hz[4]


def test_cross_corpus_overlap_planted(spark):
    from python_etl_mailing_automation_spark.datapipe.contamination import (
        cross_corpus_overlap,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    train = spark.createDataFrame(
        [
            (10, shared + " with two extras"),
            (11, "completely different text about spark query engines here"),
            (12, shared + " with two extras"),  # within-train dup: NOT a result
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(90, shared), (91, "unrelated benchmark question about geometry")],
        ["doc_id", "text"],
    )
    out = cross_corpus_overlap(train, bench, min_jaccard=0.5).collect()
    pairs = {(r.train_id, r.bench_id) for r in out}
    assert (10, 90) in pairs and (12, 90) in pairs
    assert all(b == 90 for _, b in pairs)  # only cross-side pairs, to bench 90
    j = {r.train_id: r.jaccard for r in out}
    # distinct-token jaccard: the shared sentence has 11 distinct tokens
    # ('the' repeats), train adds 3 ('with','two','extras') -> 11/14
    assert abs(j[10] - 11 / 14) < 1e-12


def test_posting_lists_frequency_cut_and_order(spark):
    from python_etl_mailing_automation_spark.datapipe.text import posting_lists

    df = spark.createDataFrame(
        [
            (10, "apple banana apple"),
            (2, "banana cherry"),
            (7, "banana date apple"),
        ],
        ["doc_id", "text"],
    )
    out = {r.term: r for r in posting_lists(df, min_df=2).collect()}
    # hapaxes (cherry, date) cut by min_df=2
    assert set(out) == {"apple", "banana"}
    assert out["apple"].df == 2 and out["apple"].total_tf == 3
    assert out["apple"].postings == "7,10"  # numeric order, not lexicographic
    assert out["banana"].df == 3 and out["banana"].postings == "2,7,10"


def test_dataset_split_deterministic_and_proportional(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import dataset_split

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    out = dataset_split(df)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    # id-stable: the same doc gets the same split in a half-sized corpus
    half = dataset_split(df.filter(F.col("doc_id") < 10000))
    full_map = {r.doc_id: r.split for r in out.filter(F.col("doc_id") < 10000).collect()}
    assert all(full_map[r.doc_id] == r.split for r in half.collect())


def test_sft_format_boundary_and_template(spark):
    from python_etl_mailing_automation_spark.datapipe.packing import (
        format_chat_text,
        to_prompt_completion,
    )

    long_text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, long_text), (2, "too short")], ["doc_id", "text"]
    )
    pairs = to_prompt_completion(df, n_prompt_tokens=6, min_completion_tokens=3)
    rows = {r.doc_id: r for r in pairs.collect()}
    assert set(rows) == {1}  # doc 2 dropped (completion too short)
    assert rows[1].prompt == "w0 w1 w2 w3 w4 w5"
    assert rows[1].completion == "w6 w7 w8 w9"
    chat = format_chat_text(pairs, system="sys").collect()[0]
    assert chat.chat_text == (
        "<|system|>\nsys\n<|user|>\nw0 w1 w2 w3 w4 w5"
        "\n<|assistant|>\nw6 w7 w8 w9<|end|>"
    )
    assert chat.chat_n_chars == len(chat.chat_text)


def test_dsir_select_prefers_target_like_docs(spark):
    from python_etl_mailing_automation_spark.datapipe.lm import dsir_select

    target_like = "the model trains on clean structured prose every day"
    off_domain = "zzz qqq xxx www vvv uuu ttt sss rrr"
    raw = spark.createDataFrame(
        [(i, target_like) for i in range(10)]
        + [(100 + i, off_domain) for i in range(10)]
        + [(200, "x")],  # < 2 tokens: weight 0, never kept
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(1000 + i, target_like) for i in range(5)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dsir_select(raw, target, base_rate=1.0).collect()}
    assert len(out) == 21
    # target-like docs score equally under both models -> weight ~1, all
    # kept at base_rate 1.0; off-domain docs have zero in-vocab bigrams
    # under the target model -> weight exactly 0, never kept
    assert all(out[i].weight > 0.9 and out[i].kept == 1 for i in range(10))
    assert all(out[100 + i].weight == 0.0 and out[100 + i].kept == 0 for i in range(10))
    assert out[200].weight == 0.0 and out[200].kept == 0


def test_round6_null_edges(spark):
    """Edge cases the battery queries never reach: NULL url / empty
    canon pass through url_dedup untouched; NULL ids get a NULL split;
    NULL text yields NULL gopher measures (not a crash, not a pass)."""
    from python_etl_mailing_automation_spark.datapipe.sampling import dataset_split
    from python_etl_mailing_automation_spark.datapipe.text import gopher_quality
    from python_etl_mailing_automation_spark.datapipe.web import url_dedup

    urls = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "https://a.com/x"),
         (6, "http://a.com/x")],
        "doc_id int, url string",
    )
    kept = {r.doc_id for r in url_dedup(urls).collect()}
    # both NULLs and both empties survive; the two real variants collapse
    assert kept == {1, 2, 3, 4, 5}

    ids = spark.createDataFrame([(1,), (None,)], "doc_id int")
    splits = {r.doc_id: r.split for r in dataset_split(ids).collect()}
    assert splits[1] in ("train", "val", "test") and splits[None] is None

    g = gopher_quality(
        spark.createDataFrame([(1, None)], "doc_id int, text string")
    ).collect()[0]
    assert g.gopher_pass is None and g.n_words is None


def test_kmv_distinct_exact_below_k_estimate_above(spark):
    """Groups with < k distinct values report the EXACT count; a
    large group's estimate lands within 15% of truth for k=256 (SE
    ~1/sqrt(k-2) = 6.3%, so 15% = 2.4 sigma; the md5 draw is
    deterministic, so the pass is stable, not flaky); NULLs
    are ignored; re-running gives the identical estimate (KMV over md5
    is deterministic, unlike rand-seeded sampling)."""
    from python_etl_mailing_automation_spark.datapipe.stats import kmv_distinct

    small = spark.createDataFrame(
        [("a", i % 7) for i in range(50)] + [("a", None)],
        "g string, v int",
    )
    row = kmv_distinct(small, "v", group_col="g", k=64).collect()[0]
    assert row.n_kept == 7 and row.est_distinct == 7.0

    big = spark.range(0, 5000).select(
        F.lit("b").alias("g"), (F.col("id") % 3000).alias("v")
    )
    r1 = kmv_distinct(big, "v", group_col="g", k=256).collect()[0]
    r2 = kmv_distinct(big, "v", group_col="g", k=256).collect()[0]
    assert r1.n_kept == 256
    assert abs(r1.est_distinct - 3000) / 3000 < 0.15
    assert r1.est_distinct == r2.est_distinct

    with pytest.raises(ValueError):
        kmv_distinct(big, "v", k=1)

    glob = kmv_distinct(big, "v", k=64).collect()[0]
    assert glob.n_kept == 64


def test_pagerank_star_and_cycle(spark):
    """Hand-checkable graphs: on a directed cycle every node keeps
    pr = 1/N at every iteration; on a star (leaves -> hub) the hub
    accumulates and leaves hold the teleport floor; ranks sum to ~1
    when every node has out-edges."""
    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src int, dst int"
    )
    prs = {r.node: r.pr for r in pagerank(cycle, n_iter=3).collect()}
    assert all(abs(p - 0.2) < 1e-9 for p in prs.values())
    assert abs(sum(prs.values()) - 1.0) < 1e-9

    star = spark.createDataFrame(
        [(i, 99) for i in range(1, 5)], "src int, dst int"
    )
    prs = {r.node: r.pr for r in pagerank(star, n_iter=2).collect()}
    base = 0.15 / 5
    assert all(abs(prs[i] - base) < 1e-9 for i in range(1, 5))
    assert prs[99] > 4 * prs[1]

    with pytest.raises(ValueError):
        pagerank(
            spark.createDataFrame([], "src int, dst int"), n_iter=1
        )


def test_label_propagation_communities(spark):
    """Two triangles joined by one bridge edge: after enough rounds
    each triangle converges to its own minimum label (majority vote,
    ties to smallest); the bridge endpoints stay with their triangle.
    Deterministic round count, no edge-order sensitivity."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        label_propagation,
    )

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(
        tri1 + tri2 + [(3, 10)], "src int, dst int"
    )
    out = {r.node: r.label for r in label_propagation(edges, n_iter=4).collect()}
    # labels are arbitrary community identifiers (LPA labels can
    # migrate across a bridge — here the second triangle converges to
    # label 3); what must hold: internal uniformity + separation
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert out[1] != out[10]
    # determinism: same rounds, same labels
    again = {r.node: r.label for r in label_propagation(edges, n_iter=4).collect()}
    assert again == out
    with pytest.raises(ValueError):
        label_propagation(edges, n_iter=0)


def test_label_propagation_string_ids_tiebreak(spark):
    """The tie-break must be type-agnostic: string node ids go through
    the same argmax-count/min-label path (the old ``-label`` negation
    implicitly cast strings to double -> NULL, making the tie-break
    NULL-driven). Mirror of the integer two-triangle test, plus a
    direct tie: node 'q' sees {'a','b'} once each -> adopts 'a'."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        label_propagation,
    )

    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    edges = spark.createDataFrame(
        tri1 + tri2 + [("c", "x")], "src string, dst string"
    )
    out = {r.node: r.label for r in label_propagation(edges, n_iter=4).collect()}
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]
    star = spark.createDataFrame(
        [("q", "a"), ("q", "b")], "src string, dst string"
    )
    one = {
        r.node: r.label for r in label_propagation(star, n_iter=1).collect()
    }
    assert one["q"] == "a"  # tie between neighbors 'a' and 'b' -> smallest


def test_band_ledger_gate_verdicts_and_writeback(spark):
    """dedup_against_band_ledger verdict semantics on planted docs:
    ledger collision wins over batch domination; the domination rule is
    'any smaller id sharing a band' (non-iterative); too-short docs
    have null bands and always pass; updated_band_ledger makes an
    accepted doc's future twin a ledger_dup."""
    from python_etl_mailing_automation_spark.datapipe.dedup import (
        band_entries,
        dedup_against_band_ledger,
        minhash_signatures,
        updated_band_ledger,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    prior = spark.createDataFrame([(0, base)], "doc_id long, text string")
    ledger = (
        band_entries(minhash_signatures(prior))
        .select("band_idx", "band_val")
        .distinct()
    )
    new = spark.createDataFrame(
        [
            (1, base),                                   # full dup of ledger doc
            (2, "one two three four five six seven"),    # twin of 3, smaller id
            (3, "one two three four five six seven"),    # dominated by 2
            (4, "hi"),                                   # too short: null bands
            (5, "totally different words in this here"),  # unique
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.verdict
        for r in dedup_against_band_ledger(new, ledger).collect()
    }
    assert got == {
        1: "ledger_dup",
        2: "accepted",
        3: "batch_dup",
        4: "accepted",
        5: "accepted",
    }
    # write-back: after merging the accepted docs' keys, a future twin
    # of doc 2 is a ledger_dup
    accepted = new.join(
        spark.createDataFrame([(2,), (4,), (5,)], "doc_id long"), on="doc_id"
    )
    merged = updated_band_ledger(ledger, accepted)
    later = spark.createDataFrame(
        [(9, "one two three four five six seven")], "doc_id long, text string"
    )
    again = {
        r.doc_id: r.verdict
        for r in dedup_against_band_ledger(later, merged).collect()
    }
    assert again == {9: "ledger_dup"}


def test_bounded_round_truncation_contracts(spark):
    """The documented truncation semantics of the four bounded-round
    graph operators, each on a graph that NEEDS more rounds than the
    budget:

    - bfs_hops: nodes past the horizon are absent; within it every hop
      is already the global minimum (truncation loses rows, never
      corrupts them).
    - sssp_weighted: a node whose cheapest path exceeds the hop budget
      holds the cheapest within-budget path instead.
    - kcore: truncation only under-peels — a peel CASCADE longer than
      max_rounds leaves fringe nodes one more round would delete.
    - label_propagation: the result is the state after exactly n_iter
      rounds; labels propagate one hop per round.
    """
    from python_etl_mailing_automation_spark.datapipe.graph import (
        bfs_hops,
        kcore,
        label_propagation,
        sssp_weighted,
    )

    # --- bfs_hops: path 0->1->2->3->4, budget 2 ---
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,)], "node int")
    got2 = {r.node: r.hop for r in bfs_hops(path, seeds, max_hops=2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2}          # 3, 4 absent — not wrong
    got4 = {r.node: r.hop for r in bfs_hops(path, seeds, max_hops=4).collect()}
    assert got4 == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    assert all(got4[n] == h for n, h in got2.items())  # settled hops never revised

    # --- sssp: cheap 3-hop path (1+1+1) vs expensive direct edge (10) ---
    wedges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10)],
        "src int, dst int, w int",
    )
    d2 = {r.node: r.dist for r in sssp_weighted(wedges, seeds, max_rounds=2).collect()}
    assert d2[3] == 10                          # best path WITHIN 2 hops
    d3 = {r.node: r.dist for r in sssp_weighted(wedges, seeds, max_rounds=3).collect()}
    assert d3[3] == 3                           # full convergence improves it

    # --- kcore: triangle core + 2-node tail; k=2 needs 2 peel rounds ---
    core_tail = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    r1 = {r.node for r in kcore(core_tail, k=2, max_rounds=1).collect()}
    assert r1 == {"a", "b", "c", "d"}           # e peeled; d needs round 2
    r2 = {r.node for r in kcore(core_tail, k=2, max_rounds=2).collect()}
    assert r2 == {"a", "b", "c"}                # the true 2-core
    assert r2 <= r1                             # truncation only UNDER-peels

    # --- label_propagation: labels travel one hop per round ---
    lpath = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src int, dst int"
    )
    one = {r.node: r.label for r in label_propagation(lpath, n_iter=1).collect()}
    # after round 1 each node holds its smallest NEIGHBOR's id
    assert one == {1: 2, 2: 1, 3: 2, 4: 3}
    two = {r.node: r.label for r in label_propagation(lpath, n_iter=2).collect()}
    assert two != one                           # not a fixpoint at n_iter=1


def test_pagerank_leaves_no_pinned_caches(spark):
    """pagerank caches its node and edge+degree frames per call; the
    result must be usable AFTER the caches are released and repeated
    calls in a shared session must leave no pinned RDDs behind (the
    runner's no-cache-leak contract, extended to the graph module).
    Compare ID SETS, not sizes: the async ContextCleaner may release
    earlier tests' GC'd caches mid-test."""
    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    def cached_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
            .strip("[]").replace(" ", "").split(",")
        ) - {""}

    edges = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(0,)], "node int")
    baseline = cached_ids()
    out = pagerank(edges, n_iter=2)
    out_p = pagerank(edges, n_iter=2, seeds=seeds)
    # each call may pin exactly ONE new RDD — its materialized result
    # checkpoint, which is caller-owned and ContextCleaner-released
    # when the frame is GC'd. The internal nodes/ed caches (2 per
    # call) must be gone; accumulation across calls would show as >2.
    assert len(cached_ids() - baseline) <= 2
    # frames stay correct after the internal unpersists
    assert abs(sum(r.pr for r in out.collect()) - 1.0) < 1e-9
    assert out_p.count() == 5
    # the bad-seed path raises AFTER caching the edge and node frames
    # (the seed check counts the cached nodes); the held block releases
    # both on the raise, so the failed call pins nothing new
    before_raise = cached_ids()
    with pytest.raises(ValueError, match="no seed"):
        pagerank(edges, n_iter=1, seeds=spark.createDataFrame([(42,)], "node int"))
    assert cached_ids() - before_raise == set()
    assert len(cached_ids() - baseline) <= 2


def test_bloom_no_false_negatives_and_merge(spark):
    """Every inserted value probes True (no false negatives — the
    Bloom guarantee filtering correctness depends on); NULL probes to
    NULL; two shard filters merged by union + re-bit_or equal the
    filter built over the union of inputs (mergeability is what makes
    it a sketch)."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        bloom_build,
        bloom_probe,
    )

    a = spark.createDataFrame([(i,) for i in range(60)], "v int")
    b = spark.createDataFrame([(i,) for i in range(60, 120)], "v int")
    both = a.unionByName(b)
    merged = (
        bloom_build(a, "v", m_bits=2048, k_hashes=3)
        .unionByName(bloom_build(b, "v", m_bits=2048, k_hashes=3))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    direct = bloom_build(both, "v", m_bits=2048, k_hashes=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    probe = spark.createDataFrame(
        [(i,) for i in range(200)] + [(None,)], "v int"
    )
    res = bloom_probe(probe, "v", direct, m_bits=2048, k_hashes=3).collect()
    assert all(r.maybe_member for r in res if r.v is not None and r.v < 120)
    assert [r.maybe_member for r in res if r.v is None] == [None]

    with pytest.raises(ValueError):
        bloom_build(a, "v", m_bits=10)
    with pytest.raises(ValueError):
        bloom_build(a, "v", k_hashes=0)


def test_cms_overcounts_only_and_exact_at_low_load(spark):
    """Count-Min estimates are >= the true count for every present
    value and 0 for absent ones; at load far below width the estimate
    is exact; weighted duplicates accumulate (build is a plain sum)."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        cms_build,
        cms_estimate,
    )

    freq = spark.createDataFrame(
        [(i % 10,) for i in range(1000)], "v int"
    )
    cms = cms_build(freq, "v", width=256, depth=4)
    probes = spark.createDataFrame(
        [(i,) for i in range(10)] + [(77,), (None,)], "v int"
    )
    est = {
        r.v: r.est_cnt
        for r in cms_estimate(probes, "v", cms, width=256, depth=4).collect()
    }
    assert all(est[i] >= 100 for i in range(10))
    assert est[77] == 0 and est[None] is None
    # 10 distinct values over width 256: collision-free, so exact
    assert all(est[i] == 100 for i in range(10))

    with pytest.raises(ValueError):
        cms_build(freq, "v", width=0)


def test_resample_fill_grid_and_ffill(spark):
    """Hand-built series: observations on days 0 and 3 produce a dense
    4-day grid with days 1-2 carried forward and flagged unobserved;
    two observations in one bucket pick the LATER ts; NULL values are
    ignored; a key's grid never starts before its first observation."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        resample_fill,
    )

    d = 86400
    rows = [
        ("a", 0.0, 1.0),
        ("a", 100.0, 1.5),          # same bucket as above, later ts wins
        ("a", 3.0 * d + 5, 2.0),
        ("a", 2.0 * d, None),       # ignored
        ("b", 5.0 * d, 9.0),        # single-point key: one bucket
    ]
    df = spark.createDataFrame(rows, "k string, sec double, v double").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    out = resample_fill(df, "k", "ts", "v", step_seconds=d)
    got = {
        (r.k, r.bucket_ts.timestamp()): (r.value_filled, r.observed)
        for r in out.collect()
    }
    assert got[("a", 0.0)] == (1.5, True)
    assert got[("a", float(d))] == (1.5, False)
    assert got[("a", float(2 * d))] == (1.5, False)
    assert got[("a", float(3 * d))] == (2.0, True)
    assert got[("b", float(5 * d))] == (9.0, True)
    assert len(got) == 5

    with pytest.raises(ValueError):
        resample_fill(df, "k", "ts", "v", step_seconds=0)


def test_zone_maps_and_prunable_shards(spark):
    """Zone maps carry min/max/nulls per column and the shard row
    count; an all-NULL shard has NULL min/max."""
    from python_etl_mailing_automation_spark.datapipe.stats import zone_maps

    df = spark.createDataFrame(
        [("s1", 1), ("s1", 10), ("s2", 100), ("s2", 200), ("s3", None)],
        "shard string, x int",
    )
    maps = zone_maps(df, "shard", ["x"])
    by = {r.shard: r for r in maps.collect()}
    assert (by["s1"].x_min, by["s1"].x_max, by["s1"].x_nulls) == (1, 10, 0)
    assert (by["s2"].x_min, by["s2"].x_max) == (100, 200)
    assert by["s3"].x_nulls == 1 and by["s3"].x_min is None
    assert by["s1"].n_rows == 2

    with pytest.raises(ValueError):
        zone_maps(df, "shard", [])


def test_group_ols_exact_line_and_degenerate(spark):
    """A perfect line recovers slope/intercept exactly (the moments are
    exact integers, the closed form divides exactly); a zero-x-variance
    group yields NULLs rather than a division blowup."""
    from python_etl_mailing_automation_spark.datapipe.stats import group_ols

    line = [("g", x, 2 * x + 3) for x in range(10)]
    flat = [("h", 4, y) for y in (1, 5, 9)]
    df = spark.createDataFrame(line + flat, "g string, x int, y int")
    by = {r.g: r for r in group_ols(df, "x", "y", group_col="g").collect()}
    assert by["g"].slope == 2.0 and by["g"].intercept == 3.0
    assert by["g"].n == 10
    assert by["h"].slope is None and by["h"].intercept is None


def test_bpe_train_greedy_fold_semantics(spark):
    """Hand corpus 'aaaa aaaa aa': round 1 must count (a,a) = 7
    (3 per 'aaaa' x2 + 1) and the merge application must be the
    textbook greedy fold — 'aaaa' becomes (aa)(aa), NOT (aa)a a (the
    single-pass replace() bug) — so round 2 finds (aa,aa) = 2."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        bpe_segment,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aa")], "doc_id int, text string"
    )
    merges = bpe_train(docs, "text", n_merges=2)
    rows = {r.rank: r for r in merges.collect()}
    assert (rows[1].lhs, rows[1].rhs, rows[1].pair_count) == ("a", "a", 7)
    assert (rows[2].lhs, rows[2].rhs, rows[2].pair_count) == ("aa", "aa", 2)

    seg = bpe_segment(
        spark.createDataFrame(
            [(1, "aaaa b aa"), (2, ""), (3, "aaaaa")],
            "doc_id int, text string",
        ),
        "text",
        merges,
    )
    toks = {r.doc_id: r.tokens for r in seg.collect()}
    assert toks[1] == ["aaaa", "b", "aa"]
    assert toks[2] == []
    assert toks[3] == ["aaaa", "a"]  # greedy leftmost, leftover single

    with pytest.raises(ValueError):
        bpe_train(docs, "text", n_merges=0)


def test_bpe_train_ties_and_exhaustion(spark):
    """Deterministic (lhs, rhs) tie-break; asking for more merges than
    the corpus supports returns only the feasible ones (a word fully
    merged to one symbol yields no pairs)."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import bpe_train

    docs = spark.createDataFrame([(1, "ab cd ab cd")], "i int, text string")
    merges = bpe_train(docs, "text", n_merges=5).collect()
    # (a,b) and (c,d) both count 2 -> lexicographic lhs order first
    assert [(m.rank, m.lhs, m.rhs) for m in merges] == [
        (1, "a", "b"),
        (2, "c", "d"),
    ]


def test_bpe_train_batched_equals_sequential(spark):
    """The batched snapshot acceptance (batch_k > 1) must reproduce the
    strict sequential greedy merge table exactly, including the cases
    the prefix/truncation guards exist for: a created pair tying a
    disjoint snapshot pair ('x a b' x10 + 'c d' x10 — after (a,b), the
    new (x,ab):10 must outrank nothing accepted from the stale
    snapshot), equal-count conflicting pairs, and plain tie-breaks."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import bpe_train

    corpora = [
        " ".join(["x a b"] * 10 + ["c d"] * 10),   # created-pair tie trap
        " ".join(["a b"] * 5 + ["b c"] * 5),       # equal-count conflict
        "aaaa aaaa aa",                             # self-overlap run
        "ab cd ab cd ef gh ef",                    # disjoint batch win
        # self-pair barrier: after (a,a), the created (aa,a):3 is
        # bounded by (a,a)'s OWN count (6) and must outrank the stale
        # snapshot's (b,c):2 — a batch that accepts (b,c) alongside
        # (a,a) diverges from sequential greedy
        "aaa aaa aaa bc bc",
    ]
    for text in corpora:
        docs = spark.createDataFrame([(1, text)], "i int, text string")
        seq = [
            (r.rank, r.lhs, r.rhs, r.pair_count)
            for r in bpe_train(docs, "text", n_merges=4, batch_k=1)
            .orderBy("rank").collect()
        ]
        for k in (2, 8):
            got = [
                (r.rank, r.lhs, r.rhs, r.pair_count)
                for r in bpe_train(docs, "text", n_merges=4, batch_k=k)
                .orderBy("rank").collect()
            ]
            assert got == seq, (text, k)


def test_loghist_sketch_quantiles_and_merge(spark):
    """Bucket = bit length (1->1, 2-3->2, 4-7->3...); the q-rank pick
    lands in the bucket an exact quantile would (2x error envelope by
    construction); zero goes to bucket 0; shard sketches merged by
    union + re-sum equal the direct sketch; bad rationals raise."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        loghist_build,
        loghist_quantiles,
    )

    vals = [0] + [1] * 10 + [5] * 10 + [100] * 79  # n=100
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    sk = loghist_build(df, "v")
    by = {r.bucket: r.cnt for r in sk.collect()}
    assert by == {0: 1, 1: 10, 3: 10, 7: 79}

    qs = loghist_quantiles(sk, [(1, 2), (1, 10), (99, 100)])
    got = {(r.q_num, r.q_den): (r.bucket, r.est_lo, r.est_hi)
           for r in qs.collect()}
    # p50: rank 50 falls in the 100s bucket (cum 1,11,21,100)
    assert got[(1, 2)] == (7, 64, 127)
    # p10: rank 10 falls in the 1s bucket
    assert got[(1, 10)] == (1, 1, 1)
    assert got[(99, 100)] == (7, 64, 127)

    half_a = spark.createDataFrame([(v,) for v in vals[:50]], "v int")
    half_b = spark.createDataFrame([(v,) for v in vals[50:]], "v int")
    merged = (
        loghist_build(half_a, "v")
        .unionByName(loghist_build(half_b, "v"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert {(r.bucket, r.cnt) for r in merged.collect()} == {
        (b, c) for b, c in by.items()
    }

    with pytest.raises(ValueError):
        loghist_quantiles(sk, [(0, 2)])
    with pytest.raises(ValueError):
        loghist_quantiles(sk, [(3, 2)])


def test_jaccard_join_exact_matches_brute_force(spark):
    """Prefix-filter similarity join equals brute-force all-pairs on a
    hand corpus (word tokens, t = 1/2), including the exact integer
    boundary acceptance; empty docs and singletons behave."""
    from itertools import combinations

    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        jaccard_join_exact,
    )

    docs = [
        (1, "a b c d"), (2, "a b c e"), (3, "a b c d"), (4, "x y z"),
        (5, "x y z w"), (6, "q"), (7, "q"), (8, ""),
    ]
    df = spark.createDataFrame(docs, "id int, text string")
    got = {
        (r.id_a, r.id_b): (r.inter, r.jaccard)
        for r in jaccard_join_exact(
            df, "id", "text", threshold=(1, 2)
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in docs if t}
    exp = {}
    for x, y in combinations(sorted(sets), 2):
        inter = len(sets[x] & sets[y])
        union = len(sets[x] | sets[y])
        if 2 * inter >= union:
            exp[(x, y)] = (inter, inter / union)
    assert got == exp

    # 3-shingles: docs shorter than the shingle produce no tokens
    short = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "p q r s"), (4, "p q r s")],
        "id int, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in jaccard_join_exact(
            short, "id", "text", threshold=(1, 2), shingle=3
        ).collect()
    }
    assert pairs == {(3, 4)}

    with pytest.raises(ValueError):
        jaccard_join_exact(df, "id", "text", threshold=(3, 2))
    with pytest.raises(ValueError):
        jaccard_join_exact(df, "id", "text", shingle=0)


def test_containment_join_asymmetric(spark):
    """Containment finds doc-in-doc pairs symmetric Jaccard misses:
    a 2-token doc fully inside an 8-token doc scores containment 1.0
    but Jaccard 0.25; exact-boundary acceptance (inter*den == num*sz)
    is kept — the case that exposed DuckDB's round-vs-truncate cast."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_join_exact,
        jaccard_join_exact,
    )

    docs = [
        (1, "a b"),
        (2, "a b c d e f g h"),
        (3, "a b x"),
        (4, "p q r"),
    ]
    df = spark.createDataFrame(docs, "id int, text string")
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_join_exact(
            df, "id", "text", threshold=(1, 1)
        ).collect()
    }
    assert cont == {(1, 2): 1.0, (1, 3): 1.0}
    jac = {
        (r.id_a, r.id_b)
        for r in jaccard_join_exact(df, "id", "text", threshold=(1, 2)).collect()
    }
    assert (1, 2) not in jac  # the asymmetric pair Jaccard misses

    # exact boundary: |A|=10, inter=9, t=9/10 -> accepted
    a = "t%d " * 10 % tuple(range(10))
    b = "t%d " * 9 % tuple(range(9)) + "zz"
    bdf = spark.createDataFrame([(1, a), (2, b)], "id int, text string")
    hit = containment_join_exact(bdf, "id", "text", threshold=(9, 10)).collect()
    assert {(r.id_a, r.id_b) for r in hit} >= {(2, 1)}

    with pytest.raises(ValueError):
        containment_join_exact(df, "id", "text", threshold=(2, 1))


def test_seasonal_anomalies_flags_and_baseline(spark):
    """Hand series: hour-0 baseline mean(10, 10, 100) = 40 flags only
    the 100 (> 2x40); hour-1's uniform values flag nothing; NULLs are
    dropped."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        seasonal_anomalies,
    )

    rows = [
        (1, 0.0, "a", 10.0),
        (2, 100.0, "a", 10.0),
        (3, 200.0, "a", 100.0),      # hour 0, > 2*40 -> flagged
        (4, 3600.0, "a", 50.0),      # hour 1 alone: baseline 50, not > 100
        (5, 300.0, "a", None),
    ]
    df = spark.createDataFrame(
        rows, "event_id int, sec double, event_type string, value double"
    ).select("event_id", F.timestamp_seconds("sec").alias("ts"),
             "event_type", "value")
    out = seasonal_anomalies(df, "ts", "event_type", "value", factor=2.0)
    got = {r.event_id: (r.baseline, r.ratio) for r in out.collect()}
    assert set(got) == {3}
    assert got[3][0] == 40.0 and got[3][1] == 2.5


def test_bpe_segment_batched_equals_single_expression(spark):
    """A merge table longer than one ``MERGE_BATCH`` fold (a detach
    barrier between the folds) tokenizes exactly like the sequential
    per-merge fold — the barrier only caps expression depth, never
    changes fold semantics — and merges never cross word boundaries."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        MERGE_BATCH,
        bpe_segment,
    )

    rules = [(f"q{i}", "z") for i in range(MERGE_BATCH - 1)]
    rules += [("a", "b"), ("b", "a"), ("ab", "ab")]
    merges = spark.createDataFrame(
        [(r + 1, lhs, rhs) for r, (lhs, rhs) in enumerate(rules)],
        "rank int, lhs string, rhs string",
    )
    probe = spark.createDataFrame(
        [(1, "abab ba"), (2, "a b ab"), (3, "babab")], "doc_id int, text string"
    )

    def fold(text):
        out = []
        for word in text.split():
            syms = list(word)
            for lhs, rhs in rules:
                acc = []
                for x in syms:
                    if acc and acc[-1] == lhs and x == rhs:
                        acc[-1] = lhs + rhs
                    else:
                        acc.append(x)
                syms = acc
            out += syms
        return out

    got = {r.doc_id: r.tokens for r in bpe_segment(probe, "text", merges).collect()}
    assert got == {r.doc_id: fold(r.text) for r in probe.collect()}
    # word boundary: "a b" must not merge even though (a,b) is a merge
    assert got[2] == ["a", "b", "ab"]


def test_kmv_jaccard_exact_below_k_and_accuracy(spark):
    """Below k the sketch Jaccard is EXACT (identical sets -> 1.0,
    disjoint -> 0.0, half-overlap -> exact ratio); above k a known
    0.5-overlap lands within the sketch's error envelope; rerun gives
    the identical estimate (md5-deterministic)."""
    from python_etl_mailing_automation_spark.datapipe.stats import kmv_jaccard

    a = spark.createDataFrame([(i,) for i in range(40)], "v int")
    b = spark.createDataFrame([(i,) for i in range(20, 60)], "v int")
    r = kmv_jaccard(a, "v", b, "v", k=256).collect()[0]
    # |A∩B| = 20, |A∪B| = 60 -> exact 1/3 below k
    assert r.k_used == 60 and r.n_both == 20
    assert abs(r.jaccard_est - 1 / 3) < 1e-12

    same = kmv_jaccard(a, "v", a, "v", k=256).collect()[0]
    assert same.jaccard_est == 1.0
    disj = kmv_jaccard(
        a, "v", spark.createDataFrame([(i,) for i in range(100, 140)], "v int"),
        "v", k=256,
    ).collect()[0]
    assert disj.jaccard_est == 0.0

    big_a = spark.range(0, 3000).select(F.col("id").alias("v"))
    big_b = spark.range(1000, 4000).select(F.col("id").alias("v"))
    est1 = kmv_jaccard(big_a, "v", big_b, "v", k=256).collect()[0]
    est2 = kmv_jaccard(big_a, "v", big_b, "v", k=256).collect()[0]
    # true J = 2000/4000 = 0.5; k=256 SE ~ sqrt(J(1-J)/k) ~ 0.031
    assert abs(est1.jaccard_est - 0.5) < 0.12
    assert est1.jaccard_est == est2.jaccard_est

    with pytest.raises(ValueError):
        kmv_jaccard(a, "v", b, "v", k=1)


def test_winsorize_and_impute_semantics(spark):
    """Winsorize clips to exact percentile bounds and leaves NULLs
    NULL; imputation fills NULLs with per-group median / grid-exact
    mean / deterministic mode (ties to smallest); an all-NULL group
    keeps its NULLs; bad args raise."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        impute_missing,
        winsorize_clip,
    )

    vals = [("g", float(i)) for i in range(1, 11)] + [("g", None)]
    df = spark.createDataFrame(vals, "k string, v double")
    w = winsorize_clip(df, "v", p_lo=0.1, p_hi=0.9, group_col="k",
                       out_col="c").collect()
    # p10 of 1..10 = 1.9, p90 = 9.1 (rank q*(n-1) interpolation)
    got = sorted((r.v, r.c) for r in w if r.v is not None)
    assert got[0] == (1.0, 1.9) and got[-1] == (10.0, 9.1)
    assert got[5][0] == got[5][1]  # interior untouched
    assert [r.c for r in w if r.v is None] == [None]

    med = impute_missing(df, "v", strategy="median", group_col="k",
                         out_col="f").collect()
    assert [r.f for r in med if r.v is None] == [5.5]
    mean = impute_missing(df, "v", strategy="mean", group_col="k",
                          out_col="f").collect()
    assert [r.f for r in mean if r.v is None] == [5.5]

    mo = spark.createDataFrame(
        [("g", 2.0), ("g", 2.0), ("g", 1.0), ("g", 1.0), ("g", 3.0),
         ("g", None)],
        "k string, v double",
    )
    mode = impute_missing(mo, "v", strategy="mode", group_col="k",
                          out_col="f").collect()
    assert [r.f for r in mode if r.v is None] == [1.0]  # tie -> smallest

    empty = spark.createDataFrame([("e", None)], "k string, v double")
    still = impute_missing(empty, "v", strategy="median",
                           group_col="k", out_col="f").collect()
    assert still[0].f is None

    with pytest.raises(ValueError):
        winsorize_clip(df, "v", p_lo=0.9, p_hi=0.1)
    with pytest.raises(ValueError):
        impute_missing(df, "v", strategy="mystery")


def test_dataset_fingerprint_detects_diffs_and_merges(spark):
    """Equal datasets agree on all three digest terms regardless of
    row order; a one-value change flips the xor; a duplicated-pair
    insertion (xor blind spot) is caught by count/sum; NULL placement
    matters (('a', NULL) != (NULL, 'a')); shard digests recombine to
    the direct digest."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        dataset_fingerprint,
    )

    rows = [(1, "a"), (2, "b"), (3, None), (None, "c")]
    df = spark.createDataFrame(rows, "k int, s string")
    fp = dataset_fingerprint(df).collect()[0]
    fp_shuffled = dataset_fingerprint(
        spark.createDataFrame(list(reversed(rows)), "k int, s string")
    ).collect()[0]
    assert (fp.n_rows, fp.xor_hash, fp.sum_hash) == (
        fp_shuffled.n_rows, fp_shuffled.xor_hash, fp_shuffled.sum_hash,
    )
    changed = dataset_fingerprint(
        spark.createDataFrame(rows[:-1] + [(None, "d")], "k int, s string")
    ).collect()[0]
    assert changed.xor_hash != fp.xor_hash
    dup_pair = dataset_fingerprint(
        spark.createDataFrame(rows + [(1, "a"), (1, "a")], "k int, s string")
    ).collect()[0]
    assert dup_pair.xor_hash == fp.xor_hash  # the blind spot...
    assert (dup_pair.n_rows, dup_pair.sum_hash) != (fp.n_rows, fp.sum_hash)
    swapped = dataset_fingerprint(
        spark.createDataFrame(
            [("1", "a"), ("2", "b"), ("3", None), ("c", None)],
            "k string, s string",
        )
    ).collect()[0]
    assert swapped.xor_hash != fp.xor_hash  # NULL position distinguishes
    with pytest.raises(ValueError):
        dataset_fingerprint(df, [])


def test_weighted_sample_priority_semantics(spark):
    """Priority sampling keeps exactly k per group; a weight
    overwhelming the rest is always included (q = w/u with u <= 1, so
    a weight > every other w/u_min... practically: w huge wins);
    NULL / non-positive weights and NULL ids are dropped; the sample
    is a pure function of (id, weight, salt) — rerun-identical; the
    0.2-superset property does NOT hold here (k-cut, not threshold),
    but growing k only ADDS rows."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        weighted_sample,
    )

    rows = (
        [(f"d{i}", "g", 1.0) for i in range(50)]
        + [("big", "g", 1e12), ("z", "g", None), (None, "g", 5.0),
           ("neg", "g", -3.0), ("zero", "g", 0.0)]
    )
    df = spark.createDataFrame(rows, "doc_id string, g string, w double")
    kept = {
        r.doc_id
        for r in weighted_sample(
            df, 10, "w", id_col="doc_id", group_col="g"
        ).collect()
    }
    assert len(kept) == 10 and "big" in kept
    assert kept.isdisjoint({"z", None, "neg", "zero"})
    again = {
        r.doc_id
        for r in weighted_sample(
            df, 10, "w", id_col="doc_id", group_col="g"
        ).collect()
    }
    assert again == kept
    bigger = {
        r.doc_id
        for r in weighted_sample(
            df, 20, "w", id_col="doc_id", group_col="g"
        ).collect()
    }
    assert kept <= bigger and len(bigger) == 20
    with pytest.raises(ValueError):
        weighted_sample(df, 0, "w", id_col="doc_id")


def test_max_concurrency_sweep_line(spark):
    """Hand-checkable intervals: overlap counting is exact, half-open
    semantics (an interval ending exactly when another starts does NOT
    overlap it), peak ties resolve to the earliest instant, empty and
    degenerate (end <= start) intervals are dropped, and the ungrouped
    form works."""
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        max_concurrency,
    )

    rows = [
        # key a: [0,10) [5,15) [10,20) -> peak 2 first at t=5
        ("a", 0, 10), ("a", 5, 15), ("a", 10, 20),
        # key b: three on top of each other + one degenerate
        ("b", 0, 4), ("b", 1, 4), ("b", 2, 4), ("b", 7, 7),
    ]
    df = spark.createDataFrame(rows, "k string, s int, e int").select(
        "k",
        F.timestamp_seconds(F.col("s") + 1_700_000_000).alias("s_ts"),
        F.timestamp_seconds(F.col("e") + 1_700_000_000).alias("e_ts"),
    )
    out = {
        r.k: (r.peak, r.peak_at.timestamp() - 1_700_000_000)
        for r in max_concurrency(df, "s_ts", "e_ts", key_col="k").collect()
    }
    assert out == {"a": (2, 5.0), "b": (3, 2.0)}
    ungrouped = max_concurrency(df, "s_ts", "e_ts").collect()
    assert len(ungrouped) == 1 and ungrouped[0].peak == 4  # a+b overlap at 2..4


def test_hll_grouped(spark):
    """group_col yields one independent sketch per group: per-group
    estimates match the ungrouped sketch built on each group's rows."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        hll_build,
        hll_estimate,
    )

    df = spark.createDataFrame(
        [(f"g{i % 2}", i % 700) for i in range(3000)], "g string, v int"
    )
    reg = hll_build(df, "v", p=8, group_col="g")
    ests = {
        r.g: r.est_distinct
        for r in hll_estimate(reg, p=8, group_col="g").collect()
    }
    for g in ("g0", "g1"):
        solo = hll_estimate(
            hll_build(df.filter(F.col("g") == g), "v", p=8), p=8
        ).collect()[0]
        assert ests[g] == solo.est_distinct
        assert abs(solo.est_distinct - 350) / 350 < 0.3


def test_cms_join_size_overestimates_and_exact_at_low_load(spark):
    """The inner-product estimate bounds the true equi-join size from
    above; collision-free at low load it is exact; disjoint key sets
    estimate 0 when no cells collide (and never negative)."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        cms_build,
        cms_join_size,
    )

    a = spark.createDataFrame(
        [("x",)] * 3 + [("y",)] * 2 + [("z",)], "k string"
    )
    b = spark.createDataFrame([("x",)] * 4 + [("y",)] * 1, "k string")
    ca = cms_build(a, "k", width=256, depth=3)
    cb = cms_build(b, "k", width=256, depth=3)
    est = int(cms_join_size(ca, cb, depth=3).collect()[0].est_pairs)
    true = 3 * 4 + 2 * 1
    assert est >= true
    assert est == true  # collision-free at this load
    c = spark.createDataFrame([("q",)] * 5, "k string")
    cc = cms_build(c, "k", width=256, depth=3)
    est2 = int(cms_join_size(ca, cc, depth=3).collect()[0].est_pairs)
    assert est2 >= 0
    with pytest.raises(ValueError):
        cms_join_size(ca, cb, depth=0)


def test_hll_accuracy_merge_and_nulls(spark):
    """HLL estimate lands within the ~3/sqrt(m) envelope on a known
    cardinality; shard sketches union+max-merged equal the direct
    sketch exactly (max associativity — the mergeability that makes it
    a sketch); NULLs are ignored; bad p raises."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        hll_build,
        hll_estimate,
    )

    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)] + [(None,)], "v int")
    reg = hll_build(df, "v", p=9)
    row = hll_estimate(reg, p=9).collect()[0]
    assert abs(row.est_distinct - n) / n < 3 * 1.04 / (512 ** 0.5)
    a = hll_build(df.filter(F.col("v") % 3 == 0), "v", p=9)
    b = hll_build(df.filter((F.col("v") % 3) != 0), "v", p=9)
    merged = a.unionByName(b).groupBy("reg_idx").agg(F.max("rho").alias("rho"))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, reg.collect())
    )
    with pytest.raises(ValueError):
        hll_build(df, "v", p=2)
    with pytest.raises(ValueError):
        hll_estimate(reg, p=11)


def test_personalized_pagerank_teleports_to_seeds_only(spark):
    """On a star graph with leaves -> hub, seeding one leaf gives zero
    rank to unseeded leaves (no teleport, no in-edges), seed rank =
    teleport share, and hub rank inherits the seed's mass; seeding a
    node outside the graph raises."""
    from python_etl_mailing_automation_spark.datapipe.graph import pagerank

    star = spark.createDataFrame(
        [(i, 99) for i in range(1, 5)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    prs = {r.node: r.pr for r in pagerank(star, n_iter=1, seeds=seeds).collect()}
    assert prs[1] == (1.0 - 0.85) / 1.0  # (1-d)/|S|, IEEE op order
    assert prs[2] == 0.0 and prs[3] == 0.0 and prs[4] == 0.0
    # d * the seed's full initial mass flows to the hub (grid-exact:
    # floor(1.0 * 2^40) / 2^40 == 1.0)
    assert prs[99] == 0.85

    with pytest.raises(ValueError):
        pagerank(
            star, n_iter=1,
            seeds=spark.createDataFrame([(12345,)], "node int"),
        )


def test_rendezvous_shard_stability_and_balance(spark):
    """The HRW property: growing 8 -> 9 shards moves rows ONLY to the
    new shard (never between pre-existing ones), an expected ~1/9
    fraction; assignment is deterministic; distribution is roughly
    balanced; NULL ids get NULL shards."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        rendezvous_shard,
    )

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    both = rendezvous_shard(
        rendezvous_shard(df, 8, out_col="s8"), 9, out_col="s9"
    ).collect()
    moved = [r for r in both if r.s8 != r.s9]
    assert all(r.s9 == 8 for r in moved)          # only TO the new shard
    frac = len(moved) / len(both)
    assert 0.05 < frac < 0.18                      # ~1/9 expected
    from collections import Counter
    sizes = Counter(r.s8 for r in both)
    assert len(sizes) == 8
    assert max(sizes.values()) < 2.0 * min(sizes.values())

    again = {
        r.doc_id: r.s8
        for r in rendezvous_shard(df, 8, out_col="s8").collect()
    }
    assert all(again[r.doc_id] == r.s8 for r in both)  # deterministic

    nul = spark.createDataFrame([(None,)], "doc_id long")
    assert rendezvous_shard(nul, 4).collect()[0].shard is None
    with pytest.raises(ValueError):
        rendezvous_shard(df, 0)


def test_embedding_covariance_hand_computed(spark):
    """2-dim hand case: cov recovered to grid precision, variance on
    the diagonal, symmetry by upper-triangle convention, NULL vectors
    dropped, n correct."""
    import numpy as np

    from python_etl_mailing_automation_spark.datapipe.similarity import (
        embedding_covariance,
    )

    vecs = [(1, [1.0, 2.0]), (2, [3.0, 6.0]), (3, [5.0, 4.0]), (4, None)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = {(r.i, r.j): r for r in embedding_covariance(df).collect()}
    assert set(rows) == {(0, 0), (0, 1), (1, 1)}
    assert all(r.n == 3 for r in rows.values())
    x = np.array([1.0, 3.0, 5.0])
    y = np.array([2.0, 6.0, 4.0])
    assert abs(rows[(0, 0)].cov - x.var()) < 1e-9
    assert abs(rows[(1, 1)].cov - y.var()) < 1e-9
    assert abs(rows[(0, 1)].cov - ((x * y).mean() - x.mean() * y.mean())) < 1e-9


def test_pca_pc1_recovers_dominant_direction(spark):
    """Points spread along the (3,4)/5 axis with small orthogonal
    noise: PC1 scores approximate the signed coordinate along that
    axis (sign pinned by the positive start vector), and the ratio of
    PC1 variance to total variance is near 1."""
    import numpy as np

    from python_etl_mailing_automation_spark.datapipe.similarity import (
        pca_project_pc1,
    )

    rng = np.random.RandomState(7)
    ts = rng.uniform(-10, 10, 60)
    noise = rng.uniform(-0.1, 0.1, 60)
    pts = [
        (i, [float(0.6 * t - 0.8 * e), float(0.8 * t + 0.6 * e)])
        for i, (t, e) in enumerate(zip(ts, noise))
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.pc1 for r in pca_project_pc1(df, n_iter=12).collect()}
    err = [abs(got[i] - t) for i, (t, _) in enumerate(zip(ts, noise))]
    assert max(err) < 0.2
    var_pc1 = np.var([got[i] for i in range(60)])
    assert var_pc1 / (np.var(ts) + np.var(noise)) > 0.95


def test_bpe_segment_join_equals_per_instance_fold(spark):
    """The vocabulary-join fast path tokenizes identically to the
    per-instance fold on a repetitive corpus (including multi-batch
    merge application: 15 never-firing merges push the trained ones
    into a second MERGE_BATCH fold); wordless docs produce no row."""
    from python_etl_mailing_automation_spark.datapipe.tokenizer import (
        bpe_segment,
        bpe_segment_join,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab ab ba"), (2, "ba baba abab"), (3, "")],
        "doc_id int, text string",
    )
    trained = bpe_train(docs, "text", n_merges=3)
    unused = spark.createDataFrame(
        [(i - 15, f"q{i}", "z", 0) for i in range(15)],
        "rank int, lhs string, rhs string, pair_count long",
    )
    merges = unused.unionByName(trained)
    slow = {
        r.doc_id: r.tokens
        for r in bpe_segment(docs, "text", merges).collect()
    }
    fast = {
        r.doc_id: r.tokens
        for r in bpe_segment_join(docs, "doc_id", "text", merges).collect()
    }
    assert fast == {k: v for k, v in slow.items() if v}
    assert 3 not in fast and slow[3] == []


def test_containment_dedup_keeps_container_and_is_idempotent(spark):
    """The subset doc is dropped, the container kept; identical docs
    keep exactly the smaller id; unrelated docs survive; running the
    dedup twice changes nothing."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_dedup,
    )

    docs = [
        (1, "a b c"),
        (2, "a b c d e f g h"),   # contains 1
        (3, "p q r"),
        (4, "p q r"),             # identical to 3 -> keep 3
        (5, "x y z"),
    ]
    df = spark.createDataFrame(docs, "id int, text string")
    once = containment_dedup(df, "id", "text", threshold=(1, 1))
    kept = {r.id for r in once.collect()}
    assert kept == {2, 3, 5}
    twice = containment_dedup(once, "id", "text", threshold=(1, 1))
    assert {r.id for r in twice.collect()} == kept


def test_containment_dedup_fixpoint_preserves_coverage(spark):
    """to_fixpoint=True is the coverage-preserving variant: in a
    containment CHAIN a1 ⊂ a2 ⊂ a3 where a1 is 3/4-contained in a2
    and a2 in a3 but a1 is NOT 3/4-contained in a3, one-pass drops
    BOTH a1 and a2 (a1's cover vanishes with a2); the fixpoint drops
    only a2 (whose container a3 is safe) and keeps a1 — every dropped
    doc stays t-covered by a survivor. The fixpoint result is itself
    a fixpoint (idempotent), and max_rounds=1 equals the first safe
    round."""
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        containment_dedup,
    )

    docs = [
        # a1 = {a b c d}: 3 of 4 in a2 (c d e f + a b), 2 of 4 in a3
        (1, "a b c d"),
        # a2 = {a b c d e f g h} minus... craft: a2 ⊃ 3/4 of a1, a3 ⊃ 3/4 of a2
        (2, "a b c e f g"),
        (3, "b c e f g h m n"),
        (9, "q r s"),
    ]
    # containment(a1 in a2) = |{a,b,c}|/4 = 3/4 >= 3/4  -> candidate
    # containment(a2 in a3) = |{b,c,e,f,g}|/6 ... need >= 3/4 -> 4.5 -> 5 of 6: yes
    # containment(a1 in a3) = |{b,c}|/4 = 1/2 < 3/4     -> a1 not covered by a3
    df = spark.createDataFrame(docs, "id int, text string")
    onepass = {
        r.id
        for r in containment_dedup(
            df, "id", "text", threshold=(3, 4)
        ).collect()
    }
    assert onepass == {3, 9}  # both a1 and a2 dropped; a1's cover gone
    fix = containment_dedup(
        df, "id", "text", threshold=(3, 4), to_fixpoint=True, max_rounds=4
    )
    kept = {r.id for r in fix.collect()}
    assert kept == {1, 3, 9}  # a2 dropped (a3 safe); a1 KEPT
    # idempotent at the fixpoint
    again = containment_dedup(
        fix, "id", "text", threshold=(3, 4), to_fixpoint=True, max_rounds=4
    )
    assert {r.id for r in again.collect()} == kept
    # identical-doc cliques still keep exactly one survivor
    twins = spark.createDataFrame(
        [(1, "u v w"), (2, "u v w"), (3, "u v w")], "id int, text string"
    )
    assert {
        r.id
        for r in containment_dedup(
            twins, "id", "text", threshold=(1, 1), to_fixpoint=True
        ).collect()
    } == {1}


def test_bfs_hops_min_distance_and_bound(spark):
    """Chain 1→2→3→4→5 with a shortcut 1→4: hop(4) takes the shortcut
    (1), hop(5) = 2; max_hops truncates reach; multi-source takes the
    minimum over seeds; unreached nodes are absent."""
    from python_etl_mailing_automation_spark.datapipe.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    out = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 1, 5: 2}
    shallow = {
        r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=1).collect()
    }
    assert shallow == {1: 0, 2: 1, 4: 1}
    multi = bfs_hops(
        edges, spark.createDataFrame([(1,), (3,)], "node int"), max_hops=2
    )
    assert {r.node: r.hop for r in multi.collect()}[4] == 1
    with pytest.raises(ValueError):
        bfs_hops(edges, seeds, max_hops=0)


def test_hits_star_graph_exact_integers(spark):
    """Star u→{a,b,c}: after one iteration every leaf has authority 1
    (exact integer strings), the hub u has hub 3, leaves hub 0, u
    authority 0. Second iteration scales by the square: hub u = 9."""
    from python_etl_mailing_automation_spark.datapipe.graph import hits

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src int, dst int"
    )
    one = {r.node: (r.authority, r.hub) for r in hits(edges, n_iter=1).collect()}
    assert one[0] == ("0", "3")
    assert one[1] == one[2] == one[3] == ("1", "0")
    two = {r.node: (r.authority, r.hub) for r in hits(edges, n_iter=2).collect()}
    assert two[0] == ("0", "9")
    assert two[1] == ("3", "0")
    with pytest.raises(ValueError):
        hits(edges, n_iter=0)


def test_association_rules_exact_counts(spark):
    """Hand-checkable baskets: {1,2},{1,2},{1,2},{1,3},{2} → rule 1→2
    has sup_pair 3, sup_ante 4, confidence 0.75, lift (3·5)/(4·4);
    2→1 confidence 3/4 as well (sup 2 = 4); the (1,3) pair dies on
    min_support; the rational confidence floor prunes exactly."""
    from python_etl_mailing_automation_spark.datapipe.basket import (
        association_rules,
    )

    rows = [
        (100, 1), (100, 2),
        (101, 1), (101, 2),
        (102, 1), (102, 2),
        (103, 1), (103, 3),
        (104, 2), (104, 2),  # duplicate item row collapses to presence
    ]
    df = spark.createDataFrame(rows, "basket int, item int")
    out = {
        (r.antecedent, r.consequent): r
        for r in association_rules(
            df, "basket", "item", min_support=3, min_confidence=(1, 2)
        ).collect()
    }
    assert set(out) == {(1, 2), (2, 1)}
    r12 = out[(1, 2)]
    assert (r12.sup_pair, r12.sup_ante, r12.sup_cons, r12.n_baskets) == (
        3, 4, 4, 5
    )
    assert r12.confidence == 3.0 / 4.0
    assert r12.lift == (3.0 * 5.0) / (4.0 * 4.0)
    # a (num, den) floor of (4, 5) = 0.8 kills both directions
    none = association_rules(
        df, "basket", "item", min_support=3, min_confidence=(4, 5)
    )
    assert none.count() == 0
    with pytest.raises(ValueError):
        association_rules(df, "basket", "item", min_support=0)


def test_time_weighted_mean_holding_durations(spark):
    """Value 10 held 3 s then 40 held 1 s → TWAP (10·3+40·1)/4 = 17.5
    regardless of a dense burst of identical samples; single-sample
    keys yield NULL twap with span 0."""
    import datetime as dt

    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        time_weighted_mean,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        ("a", at(0), 10.0),
        ("a", at(3), 40.0),
        ("a", at(4), 99.0),  # terminal sample: weight 0
        ("b", at(0), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r.k: r for r in time_weighted_mean(df, "k", "ts", "v").collect()}
    assert out["a"].twap == (10.0 * 3.0 + 40.0 * 1.0) / 4.0
    assert out["a"].span_us == 4_000_000
    assert out["a"].n_obs == 3
    assert out["b"].twap is None and out["b"].span_us == 0


def test_dedup_lines_scoped_by_domain(spark):
    """A banner repeated inside site A is boilerplate there only; the
    same line appearing once on site B survives on B. Global mode
    (scope_col=None) removes it everywhere. NULL scopes form one real
    scope instead of never matching."""
    from python_etl_mailing_automation_spark.datapipe.dedup import dedup_lines

    rows = [
        (1, "banner\nalpha", "A"),
        (2, "banner\nbeta", "A"),
        (3, "banner\ngamma", "B"),
        (4, "promo\ndelta", None),
        (5, "promo\nepsilon", None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    scoped = {
        r.doc_id: r.text
        for r in dedup_lines(df, scope_col="source").collect()
    }
    assert scoped[1] == "alpha" and scoped[2] == "beta"
    assert scoped[3] == "banner\ngamma"  # unique within B
    assert scoped[4] == "delta" and scoped[5] == "epsilon"  # NULL scope
    global_ = {r.doc_id: r.text for r in dedup_lines(df).collect()}
    assert global_[3] == "gamma"  # removed corpus-wide in global mode


def test_kcore_peels_fringe(spark):
    """Triangle {1,2,3} with pendant 3-4 and a 2-chain 4-5: 2-core
    peeling removes the chain/pendant nodes, keeping the triangle with
    internal degree 2; k=3 empties the graph (no 3-core)."""
    from python_etl_mailing_automation_spark.datapipe.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src int, dst int"
    )
    out = {r.node: r.degree for r in kcore(edges, k=2, max_rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    assert kcore(edges, k=3, max_rounds=3).count() == 0
    with pytest.raises(ValueError):
        kcore(edges, k=0)


def test_sssp_weighted_min_plus(spark):
    """1→2→3 costs 1+1=2 beats the direct 1→3 cost of 5; the bounded
    rounds cap path length: with max_rounds=1 only direct edges relax,
    so node 3 reads 5."""
    from python_etl_mailing_automation_spark.datapipe.graph import (
        sssp_weighted,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 5)], "src int, dst int, w int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    out = {
        r.node: r.dist
        for r in sssp_weighted(edges, seeds, max_rounds=3).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2}
    one = {
        r.node: r.dist
        for r in sssp_weighted(edges, seeds, max_rounds=1).collect()
    }
    assert one[3] == 5
    with pytest.raises(ValueError):
        sssp_weighted(edges, seeds, max_rounds=0)


def test_keyword_search_conjunctive_tf_rank(spark):
    """AND semantics: only docs containing every term match; score is
    the summed tf with id-ascending tiebreak; k truncates."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        keyword_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window spark"),   # spark tf 2 + window 1 = 3
            (2, "spark window"),         # 2
            (3, "spark spark spark"),    # missing 'window' → out
            (4, "window table"),         # missing 'spark' → out
        ],
        "doc_id int, text string",
    )
    out = keyword_search(docs, ["spark", "window"], k=10).collect()
    assert [(r.doc_id, r.score, r.n_terms) for r in out] == [
        (1, 3, 2),
        (2, 2, 2),
    ]
    assert keyword_search(docs, ["spark", "window"], k=1).count() == 1
    with pytest.raises(ValueError):
        keyword_search(docs, [], k=5)


def test_stratified_exact_largest_remainder(spark):
    """Groups of 7, 5, and 3 rows at 1/2: quotas floor to 3+2+1=6,
    global target floor(15/2)=7, so the single extra goes to the
    largest remainder (7·1 mod 2 = 1; ties 5 and 3 too — smallest
    group key wins). Repeat runs pick the identical row set, and the
    NULL group is a real group."""
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        stratified_exact,
    )

    rows = (
        [("a", i) for i in range(7)]
        + [("b", 100 + i) for i in range(5)]
        + [(None, 200 + i) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "g string, id int")
    out = stratified_exact(df, "g", "id", fraction=(1, 2))
    got = [(r.g, r.id) for r in out.collect()]
    assert len(got) == 7  # exactly floor(15/2)
    by_g = {}
    for g_, i_ in got:
        by_g.setdefault(g_, []).append(i_)
    # every group's remainder is 1 → the extra goes to the smallest
    # group key, which sorts NULL LAST: 'a' wins the single extra
    assert len(by_g["a"]) == 4 and len(by_g["b"]) == 2 and len(by_g[None]) == 1
    again = [(r.g, r.id) for r in stratified_exact(df, "g", "id", fraction=(1, 2)).collect()]
    assert sorted(got, key=str) == sorted(again, key=str)
    with pytest.raises(ValueError):
        stratified_exact(df, "g", "id", fraction=(1, 0))


def test_compaction_plan_greedy_bins(spark):
    """Files of 60/60/100/30/200 at target 128: greedy in-order packing
    starts a new bin whenever the running total crosses a boundary —
    never splits a file; per-scope packing is independent."""
    from python_etl_mailing_automation_spark.sources.io import (
        compaction_plan,
    )

    rows = [
        ("a", 1, 60), ("a", 2, 60), ("a", 3, 100), ("a", 4, 30),
        ("a", 5, 200), ("b", 1, 10),
    ]
    df = spark.createDataFrame(rows, "scope string, file_id int, bytes int")
    out = {
        (r.scope, r.file_id): r.bin
        for r in compaction_plan(
            df, target_bytes=128, scope_col="scope"
        ).collect()
    }
    # cum_before: 0,60,120,220,250 → bins 0,0,0,1,1
    assert out == {
        ("a", 1): 0, ("a", 2): 0, ("a", 3): 0, ("a", 4): 1, ("a", 5): 1,
        ("b", 1): 0,
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        compaction_plan(df, target_bytes=0)


def test_interpolate_linear_fills_on_the_line(spark):
    """NULL at t=2 between (t=0, 10) and (t=4, 30) reads 20 (the line);
    leading gap back-fills, trailing gap forward-fills, an all-NULL
    key stays NULL, non-NULL samples pass through."""
    import datetime as dt

    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        interpolate_linear,
    )

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        ("a", at(0), 10.0),
        ("a", at(2), None),
        ("a", at(4), 30.0),
        ("a", at(5), None),      # trailing → 30
        ("b", at(0), None),      # leading → 7
        ("b", at(1), 7.0),
        ("c", at(0), None),      # no observation at all
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        (r.k, r.ts): r.value_filled
        for r in interpolate_linear(df, "k", "ts", "v").collect()
    }
    assert out[("a", at(0))] == 10.0
    assert out[("a", at(2))] == 20.0
    assert out[("a", at(4))] == 30.0
    assert out[("a", at(5))] == 30.0
    assert out[("b", at(0))] == 7.0
    assert out[("c", at(0))] is None


def test_skyline_2d_matches_brute_force(spark):
    from python_etl_mailing_automation_spark.datapipe.frontier import skyline_2d

    rows = [
        ("g", 1.0, 5), ("g", 2.0, 7), ("g", 2.0, 7), ("g", 3.0, 7),
        ("g", 1.5, 5), ("g", 0.5, 1), ("h", 9.0, 1), ("g", None, 9),
    ]
    df = spark.createDataFrame(rows, "k string, price double, qual int")
    got = {
        (r.k, r.price, r.qual, r.n_rows)
        for r in skyline_2d(df, "price", "qual", key_col="k").collect()
    }
    # brute force: point survives iff nothing <=price & >=qual strictly better
    pts = [(k, p, q) for k, p, q in rows if p is not None and q is not None]
    from collections import Counter

    mult = Counter(pts)
    expect = set()
    for (k, p, q), n in mult.items():
        dominated = any(
            k2 == k and p2 <= p and q2 >= q and (p2 < p or q2 > q)
            for (k2, p2, q2) in mult
        )
        if not dominated:
            expect.add((k, p, q, n))
    assert got == expect
    # duplicate frontier point carries its multiplicity
    assert ("g", 2.0, 7, 2) in got


def test_cdf_normalize_ranks_ignore_nulls(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import cdf_normalize

    df = spark.createDataFrame(
        [("a", 10.0), ("a", None), ("a", 30.0), ("a", 10.0), ("b", 7.0)],
        "g string, v double",
    )
    out = {
        (r.g, r.v, r.rnk, r.n_group, r.cdf)
        for r in cdf_normalize(df, "v", group_col="g").collect()
    }
    # NULL passes through unranked; ties share rank 1; n counts non-NULLs
    assert ("a", None, None, 3, None) in out
    assert ("a", 10.0, 1, 3, 0.0) in out
    assert ("a", 30.0, 3, 3, 1.0) in out
    # single-row group maps to 0.0, not a 0/0 division
    assert ("b", 7.0, 1, 1, 0.0) in out


def test_cohort_retention_counts_and_offsets(spark):
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        cohort_retention,
    )
    import datetime as dt

    day = lambda d: dt.datetime(2024, 1, 1) + dt.timedelta(days=d)  # noqa: E731
    rows = [
        ("u1", day(0)), ("u1", day(1)),  # same week: one active cell
        ("u1", day(14)),                 # offset 2
        ("u2", day(0)),                  # same cohort as u1
        ("u3", day(14)),                 # later cohort
        (None, day(0)), ("u4", None),    # dropped
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    got = {
        (r.cohort_week, r.week_offset, r.n_active, r.n_cohort)
        for r in cohort_retention(df, "user", "ts").collect()
    }
    w0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days // 7
    assert got == {
        (w0, 0, 2, 2),        # u1+u2 in their first week
        (w0, 2, 1, 2),        # only u1 returns two weeks later
        (w0 + 2, 0, 1, 1),    # u3's own cohort
    }


def test_collocations_exact_rational_lift(spark):
    from python_etl_mailing_automation_spark.datapipe.text import collocations

    df = spark.createDataFrame(
        [(1, "x y x y z"), (2, "x y q")], "doc_id long, text string"
    )
    out = {r.bigram: r for r in collocations(df, min_count=2, top_k=10).collect()}
    r = out["x y"]
    # c_xy=3, N_tok=8, N_big=6, c_x=3, c_y=3 -> 3*64/(6*9) = 32/9
    assert (r.c_xy, r.c_x, r.c_y) == (3, 3, 3)
    assert r.lift == (3 * 8 * 8) / (6 * 3 * 3)


def test_phrase_search_counts_overlapping_runs(spark):
    from python_etl_mailing_automation_spark.datapipe.text import phrase_search

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a a a"), (3, "b a")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_search(df, "a b").collect()
    }
    assert got == {(1, 2, 1)}
    # repeated-token phrase: overlapping occurrences all count
    got2 = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_search(df, "a a").collect()
    }
    assert got2 == {(2, 2, 1)}


def test_edit_distance_join_matches_brute_force(spark):
    """The edit join in self-join form: the frame joined with itself,
    sides aliased apart, ``id_a < id_b``."""
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )
    import itertools

    words = [
        (1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "sitting"),
        (5, "kitten"), (6, "mitten"), (7, "cat"), (8, "act"), (9, "at"),
        (10, "a"), (11, ""), (12, "kit"),
    ]
    df = spark.createDataFrame(words, "id long, s string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for d in (1, 2):
        expect = {
            (x[0], y[0], lev(x[1], y[1]))
            for x, y in itertools.combinations(words, 2)
            if lev(x[1], y[1]) <= d
        }
        pairs = fuzzy_join_edit(
            df.select(F.col("id").alias("id_a"), F.col("s").alias("s_a")),
            df.select(F.col("id").alias("id_b"), F.col("s").alias("s_b")),
            left_id="id_a", right_id="id_b",
            left_col="s_a", right_col="s_b", max_dist=d,
        ).filter(F.col("id_a") < F.col("id_b"))
        got = {(r.id_a, r.id_b, r.dist) for r in pairs.collect()}
        assert got == expect, f"d={d}"


def test_fd_violations_distinct_dep_counting(spark):
    from python_etl_mailing_automation_spark.datapipe.quality import fd_violations

    df = spark.createDataFrame(
        [
            ("z1", "BR", "São Paulo"), ("z1", "BR", "Rio"),   # violation
            ("z2", "BR", "Recife"), ("z2", "BR", "Recife"),   # consistent
            ("z3", "AR", None), ("z3", "AR", None),           # NULL-only: no violation
            ("z4", "CL", "Santiago"), ("z4", "CL", None),     # value+NULL: VIOLATION
        ],
        "zip string, country string, city string",
    )
    out = {
        (r.zip, r.n_rows, r.n_distinct_dep, r.dep_min, r.dep_max)
        for r in fd_violations(df, ["zip", "country"], "city").collect()
    }
    # z4's NULL dependent counts as a distinct value (the documented
    # "FD to NULL-or-value is still a violation" semantics); its
    # example pair collapses to the one non-NULL value
    assert out == {
        ("z1", 2, 2, "Rio", "São Paulo"),
        ("z4", 2, 2, "Santiago", "Santiago"),
    }


def test_k_anonymity_class_sizes_and_l_diversity(spark):
    from python_etl_mailing_automation_spark.datapipe.quality import k_anonymity

    df = spark.createDataFrame(
        [
            (30, "F", "flu"), (30, "F", "flu"), (30, "F", "cold"),
            (40, "M", "flu"),
            (50, None, "ok"), (50, None, "ok"),
        ],
        "age int, sex string, dx string",
    )
    out = {
        (r.age, r.sex, r.class_size, r.l_diversity, r.violates_k)
        for r in k_anonymity(df, ["age", "sex"], k=2, sensitive_col="dx").collect()
    }
    assert out == {
        (30, "F", 3, 2, 0),
        (40, "M", 1, 1, 1),      # singleton class: re-identifiable
        (50, None, 2, 1, 0),     # NULL QI groups together
    }


def test_ewma_dyadic_exact_weights(spark):
    from python_etl_mailing_automation_spark.datapipe.timeseries import ewma_dyadic
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("k", t0 + dt.timedelta(minutes=i), float(v))
            for i, v in enumerate([1, 2, 4, 8])]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {r.ts: r.ewma for r in ewma_dyadic(
        df, "k", "ts", "v", window=3, grid_bits=4).collect()}
    # window=3 weights (old->new): 1, 2, 4; grid 2^4 keeps these exact
    assert out[rows[0][1]] == 1.0                      # 4*1/4
    assert out[rows[1][1]] == (1 * 2 + 2 * 4) / 6      # weights 2,4
    assert out[rows[2][1]] == (1 * 1 + 2 * 2 + 4 * 4) / 7
    assert out[rows[3][1]] == (2 * 1 + 4 * 2 + 8 * 4) / 7


def test_sorted_neighborhood_window_pairs(spark):
    from python_etl_mailing_automation_spark.datapipe.ssjoin import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(1, "b", "aa"), (2, "b", "ab"), (3, "b", "ac"), (4, "b", "zz"),
         (5, "c", "aa"), (6, "c", "ab")],
        "id long, blk string, name string",
    )
    got = {
        (r.blk, r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=3, block_col="blk"
        ).collect()
    }
    # window 3 = each record pairs with the next 2 in sort order, per block
    assert got == {
        ("b", 1, 2), ("b", 1, 3), ("b", 2, 3), ("b", 2, 4), ("b", 3, 4),
        ("c", 5, 6),
    }


def test_event_transitions_counts_and_probs(spark):
    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        event_transitions,
    )
    import datetime as dt

    t = lambda i: dt.datetime(2024, 1, 1, 0, i)  # noqa: E731
    rows = [
        ("u1", t(0), 1, "view"), ("u1", t(1), 2, "cart"),
        ("u1", t(2), 3, "view"), ("u1", t(3), 4, "cart"),
        ("u2", t(0), 5, "view"), ("u2", t(1), 6, "buy"),
        ("u3", t(0), 7, "buy"),          # terminal only: no transition
        (None, t(0), 8, "view"),          # dropped
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, eid long, st string")
    got = {
        (r.from_state, r.to_state, r.n, r.n_from, r.prob)
        for r in event_transitions(df, "u", "ts", "st", order_cols=["eid"]).collect()
    }
    assert got == {
        ("view", "cart", 2, 3, 2 / 3),
        ("view", "buy", 1, 3, 1 / 3),
        ("cart", "view", 1, 1, 1.0),
    }


def test_table_profile_stats(spark):
    from python_etl_mailing_automation_spark.datapipe.stats import table_profile

    df = spark.createDataFrame(
        [("a", 1), ("b", 1), (None, 2), ("a", None)],
        "s string, i int",
    )
    got = {r.column_name: r for r in table_profile(df, ["s", "i"]).collect()}
    s, i = got["s"], got["i"]
    assert (s.n_rows, s.n_nulls, s.n_distinct, s.min_str, s.max_str) == (4, 1, 2, "a", "b")
    assert (i.n_rows, i.n_nulls, i.n_distinct, i.min_str, i.max_str) == (4, 1, 2, "1", "2")


def test_edit_distance_join_two_cross_corpus(spark):
    from python_etl_mailing_automation_spark.operators.linkage import (
        fuzzy_join_edit,
    )
    import itertools

    a = [(1, "kitten"), (2, "cat"), (3, "dog"), (4, "kitten")]
    b = [(1, "sitten"), (5, "cot"), (6, "dog"), (7, "zzz")]
    dfa = spark.createDataFrame(a, "id long, s string")
    dfb = spark.createDataFrame(b, "id long, s string")

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    expect = {
        (ia, ib, lev(sa, sb))
        for (ia, sa), (ib, sb) in itertools.product(a, b)
        if lev(sa, sb) <= 1
    }
    pairs = fuzzy_join_edit(
        dfa.select(F.col("id").alias("id_a"), F.col("s").alias("s_a")),
        dfb.select(F.col("id").alias("id_b"), F.col("s").alias("s_b")),
        left_id="id_a", right_id="id_b",
        left_col="s_a", right_col="s_b", max_dist=1,
    )
    got = {(r.id_a, r.id_b, r.dist) for r in pairs.collect()}
    # note ids 1 appear on BOTH sides with different strings — the
    # two sides' id columns keep them apart
    assert got == expect and got


def test_negative_samples_deterministic_different_label(spark):
    from python_etl_mailing_automation_spark.datapipe.sampling import (
        negative_samples,
    )

    rows = [(i, "pos" if i % 3 == 0 else "neg") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, label string")
    out = negative_samples(df, "id", "label", k=2, lookahead=6, n_buckets=2)
    got = out.collect()
    labels = dict(rows)
    anchors = {r.anchor_id for r in got}
    assert anchors == set(range(40))  # every anchor appears
    for r in got:
        if r.neg_id is not None:
            assert labels[r.neg_id] != r.anchor_label
            assert 1 <= r.neg_rank <= 2
    # deterministic: second run identical
    again = negative_samples(df, "id", "label", k=2, lookahead=6, n_buckets=2)
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))


def test_scc_fwbw_coloring(spark, monkeypatch):
    """Cycle {1,2,3} feeding chain 3→4→5 into cycle {5,6}, a self-loop
    singleton 7 and a tail 8→1: each node labels with its SCC's max
    member; a descending chain (trim-only graph) and an empty edge
    list are handled; the step budget raises instead of truncating."""
    from python_etl_mailing_automation_spark.datapipe import graph
    from python_etl_mailing_automation_spark.datapipe.graph import (
        strongly_connected_components as scc,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 5), (7, 7),
         (8, 1)],
        "src long, dst long",
    )
    out = {r.node: r.scc_id for r in scc(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 4, 5: 6, 6: 6, 7: 7, 8: 8}
    # pure-DAG chain: everything trims to singletons
    chain = spark.createDataFrame(
        [(3, 2), (2, 1)], "src long, dst long"
    )
    assert {r.node: r.scc_id for r in scc(chain).collect()} == {
        1: 1, 2: 2, 3: 3
    }
    assert scc(edges.limit(0)).count() == 0
    monkeypatch.setattr(graph, "SCC_MAX_STEPS", 2)
    with pytest.raises(RuntimeError, match="SCC_MAX_STEPS"):
        scc(edges)


def test_cusum_matches_sequential_recurrence(spark):
    """The prefix-sum closed form S_i = P_i - min(0, running_min P)
    equals the textbook sequential recurrence max(0, S_{i-1} + d_i) on
    the integer grid, including a drifted key that alarms and keys
    whose statistic resets to zero mid-series."""
    import math

    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        cusum_changepoints,
    )

    rows = []
    vals = {
        1: [10.0, 12.0, 11.5, 9.0, 10.0, 11.0],          # in control
        2: [10.0, 30.0, 31.0, 29.5, 30.5, 32.0],          # upward drift
        3: [10.0, 1.0, 0.5, 1.5, 0.0, 2.0],               # downward drift
    }
    for k, series in vals.items():
        for i, v in enumerate(series):
            rows.append((k, i, v))
    df = spark.createDataFrame(rows, "key long, ts long, value double")
    out = cusum_changepoints(
        df, "key", "ts", "value",
        target=10.0, slack=1.0, threshold=30.0, order_cols=["ts"],
    ).collect()
    got = {(r.key, r.ts): (r.cusum_hi, r.cusum_lo, r.alarm) for r in out}
    G = 2**20
    tg, sg, hg = 10 * G, 1 * G, 30 * G
    n_alarms = 0
    for k, series in vals.items():
        shi = slo = 0
        for i, v in enumerate(series):
            xg = math.floor(v * G)
            shi = max(0, shi + xg - tg - sg)
            slo = max(0, slo + tg - sg - xg)
            exp = (shi / G, slo / G, shi > hg or slo > hg)
            assert got[(k, i)] == exp, (k, i, got[(k, i)], exp)
            n_alarms += int(exp[2])
    assert n_alarms > 0  # the drifted keys must actually alarm


def test_vocab_growth_first_occurrence(spark):
    """Types count at their FIRST doc only; docs with zero new types
    still appear; cumulative columns are proper prefixes."""
    from python_etl_mailing_automation_spark.datapipe.text import vocab_growth

    df = spark.createDataFrame(
        [
            (1, "a b a"),
            (2, "b b"),          # no new types
            (3, "a c"),
            (4, "   "),          # blank: dropped entirely
            (5, "d"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_tokens, r.cum_tokens, r.new_types, r.cum_types)
           for r in vocab_growth(df).collect()}
    assert out == {
        1: (3, 3, 2, 2),
        2: (2, 5, 0, 2),
        3: (2, 7, 1, 3),
        5: (1, 8, 1, 4),
    }


def test_benford_profile_chi2_and_spine(spark):
    """Benford-ish data scores low chi2; a constant-leading-digit
    column scores high; absent digits emit n=0 rows and still feed the
    chi-square; non-positive values are excluded and witnessed."""
    import math

    from python_etl_mailing_automation_spark.datapipe.stats import (
        benford_profile,
    )

    rows = []
    # group 'b': exact Benford-ish multiset over 1000 values
    for d in range(1, 10):
        rows += [("b", float(d * 10 + 1))] * int(
            round(1000 * math.log10(1 + 1 / d))
        )
    # group 'u': every value leads with 9 + two excluded values
    rows += [("u", 9.5)] * 50 + [("u", 0.0), ("u", -3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = benford_profile(df, "v", group_col="g").collect()
    by = {(r.g, r.digit): r for r in out}
    assert len([r for r in out if r.g == "u"]) == 9  # full spine
    assert by[("u", 1)].n == 0 and by[("u", 9)].n == 50
    assert by[("u", 9)].n_excluded == 2
    assert by[("b", 1)].freq > 0.29 and by[("b", 9)].freq < 0.06
    assert by[("b", 1)].chi2 < 1.0          # near-perfect fit
    assert by[("u", 1)].chi2 > 100.0        # flagrant violation
    # leading digit of small fractions comes from the decimal digits
    tiny = spark.createDataFrame([("t", 0.0042)], "g string, v double")
    t = benford_profile(tiny, "v", group_col="g").collect()
    assert {r.digit: r.n for r in t}[4] == 1


def test_interval_union_length_merges_overlaps(spark):
    """Overlapping intervals merge, touching intervals merge, contained
    intervals add nothing, zero-length intervals are dropped — the
    SUM(end-start) double-count never happens."""
    import datetime as dt

    from python_etl_mailing_automation_spark.datapipe.timeseries import (
        interval_union_length,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, T(0), T(10)), (1, T(5), T(15)), (1, T(20), T(25)),
        (2, T(0), T(5)), (2, T(5), T(10)),          # touching -> one run
        (3, T(0), T(20)), (3, T(5), T(8)),           # contained
        (3, T(30), T(30)),                           # zero-length: dropped
    ]
    df = spark.createDataFrame(rows, "k long, s timestamp, e timestamp")
    out = {
        r.k: (r.n_intervals, r.n_merged, r.covered_us, r.covered_s)
        for r in interval_union_length(df, "s", "e", key_col="k").collect()
    }
    assert out[1] == (3, 2, 20_000_000, 20.0)
    assert out[2] == (2, 1, 10_000_000, 10.0)
    assert out[3] == (2, 1, 20_000_000, 20.0)


def test_merkle_table_diff_localizes_changes(spark):
    """A modify + a delete + an insert localize to <=3 mismatched leaf
    buckets out of 64; identical tables match everywhere; a leaf whose
    parent matched never mismatches (the descent-pruning invariant)."""
    import pytest

    from python_etl_mailing_automation_spark.datapipe.quality import (
        merkle_table_diff,
    )

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    b = (
        a.filter(F.col("k") != 777)
        .withColumn(
            "v", F.when(F.col("k") == 500, F.lit(-1)).otherwise(F.col("v"))
        )
        .unionByName(
            spark.range(2000, 2001).select(
                F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
            )
        )
    )
    out = merkle_table_diff(a, b, "k", ["v"], levels=2, fanout=8).collect()
    l0 = [r for r in out if r.level == 0][0]
    assert not l0.match and l0.n_a == 1000 and l0.n_b == 1000
    bad_leaves = [r for r in out if r.level == 2 and not r.match]
    assert 1 <= len(bad_leaves) <= 3
    for r in out:
        if r.level == 2 and r.parent_match:
            assert r.match
        if r.level == 0:
            assert r.parent_match is None
    same = merkle_table_diff(a, a, "k", ["v"], levels=2, fanout=8).collect()
    assert all(r.match for r in same)
    with pytest.raises(ValueError):
        merkle_table_diff(a, b, "k", ["v"], levels=0)


def test_contract_gate_rejects_stateful_kinds(spark):
    """unique/fk need cross-row state and must be refused by the
    row-local gate."""
    from python_etl_mailing_automation_spark.datapipe.quality import (
        contract_gate,
    )

    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError):
        contract_gate(df, [("unique", "k")])
    with pytest.raises(ValueError):
        contract_gate(df, [])


def test_heavy_hitters_mg_closed_form_and_guarantee(spark):
    """Batch MG summary equals the closed-form one-shot merge
    (exact count minus the (capacity+1)-th largest count, positive
    residuals only), caps the counter table at ``capacity``, and
    honors the classic guarantee: any item with true count
    > n/(capacity+1) survives, each reported count within
    [true - n/(cap+1), true]. Multi-key: each key's summary is
    independent."""
    from collections import Counter

    from python_etl_mailing_automation_spark.datapipe.sketches import (
        heavy_hitters_mg,
    )

    per_key = {
        "k1": ["a"] * 30 + ["b"] * 20 + ["c"] * 5
        + [f"x{i}" for i in range(25)],
        # all-ties key: 6 items x 4 each, capacity 4 -> ck1 = 4,
        # every residual 0, empty summary (bound still holds: no
        # item exceeds 24/5).
        "k2": [f"t{i}" for i in range(6)] * 4,
    }
    rows = [(k, it) for k, items in per_key.items() for it in items]
    # NULL keys drop by contract and must not perturb any real key's
    # summary
    rows += [(None, "a")] * 7
    df = spark.createDataFrame(rows, "key string, item string")
    cap = 4
    got: dict[str, dict[str, tuple[int, int]]] = {}
    for r in heavy_hitters_mg(df, "key", "item", capacity=cap).collect():
        got.setdefault(r["key"], {})[r["item"]] = (
            r["mg_count"], r["n_events"],
        )
    for k, items in per_key.items():
        true = Counter(items)
        n = len(items)
        ck1 = sorted(true.values(), reverse=True)[cap] if (
            len(true) > cap
        ) else 0
        expected = {
            it: (c - ck1, n) for it, c in true.items() if c - ck1 > 0
        }
        assert got.get(k, {}) == expected, k
        assert len(got.get(k, {})) <= cap
        bound = n / (cap + 1)
        for it, c in true.items():
            if c > bound:
                assert it in got[k], f"guaranteed heavy hitter {it} missing"
        for it, (mg, _) in got.get(k, {}).items():
            assert true[it] - bound <= mg <= true[it]
    assert "k2" not in got  # the all-ties key collapses to empty
    assert None not in got  # NULL keys dropped, not silently lost mid-plan


def test_heavy_hitters_mg_plan_has_no_python_eval(spark):
    """The round-10 rework's contract: the batch operator is pure
    DataFrame ops — no FlatMapGroupsInPandas / Batch/ArrowEvalPython
    stage — and the top-(capacity+1) rank filter is rewritten as a
    WindowGroupLimit so each map task keeps only capacity+1 rows per
    key before the exchange."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        heavy_hitters_mg,
    )

    df = spark.createDataFrame(
        [("k", f"i{n % 7}") for n in range(50)], "key string, item string"
    )
    plan = heavy_hitters_mg(df, "key", "item", capacity=3)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    for bad in ("FlatMapGroupsInPandas", "BatchEvalPython",
                "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad
    assert "WindowGroupLimit" in plan


def test_weighted_quantiles_exact_boundaries(spark):
    """Integer-rational reach test: exactly-on-boundary cumulative
    weights pick the boundary value (cum·den >= num·W), zero weights
    never block, ties collapse per value, bad quantiles raise."""
    import pytest

    from python_etl_mailing_automation_spark.datapipe.stats import (
        weighted_quantiles,
    )

    rows = [
        ("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 2),
        ("b", 10.0, 5), ("b", 20.0, 5),   # q50 lands EXACTLY on 10
        ("c", 7.0, 0), ("c", 8.0, 3),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    out = {
        (r.g, r.q_num, r.q_den): (r.value, r.cum_weight, r.total_weight)
        for r in weighted_quantiles(
            df, "v", "w", [(1, 2), (3, 4), (1, 1)], group_col="g"
        ).collect()
    }
    assert out[("a", 1, 2)] == (2.0, 2, 4)
    assert out[("a", 3, 4)] == (3.0, 4, 4)
    assert out[("b", 1, 2)] == (10.0, 5, 10)   # boundary: not 20
    assert out[("b", 3, 4)] == (20.0, 10, 10)
    assert out[("c", 1, 2)] == (8.0, 3, 3)
    with pytest.raises(ValueError):
        weighted_quantiles(df, "v", "w", [(0, 2)])
    with pytest.raises(ValueError):
        weighted_quantiles(df, "v", "w", [])


def test_proximity_join_grid_matches_brute_force(spark):
    """Cell bucketing + 9-neighborhood probe finds EXACTLY the brute
    force pair set (each pair once), including boundary pairs at
    dist2 == radius²; radius validation raises."""
    import random

    import pytest

    from python_etl_mailing_automation_spark.datapipe.spatial import (
        proximity_join_grid,
    )

    random.seed(11)
    A = [(i, random.randrange(5000), random.randrange(5000))
         for i in range(120)]
    B = [(j, random.randrange(5000), random.randrange(5000))
         for j in range(120)]
    B.append((999, A[0][1] + 300, A[0][2] + 400))  # dist2 == 500² exactly
    r = 500
    exp = sorted(
        (ia, jb, (xa - xb) ** 2 + (ya - yb) ** 2)
        for ia, xa, ya in A
        for jb, xb, yb in B
        if (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    )
    da = spark.createDataFrame(A, "id long, x long, y long")
    db = spark.createDataFrame(B, "id long, x long, y long")
    got = sorted(
        tuple(row) for row in proximity_join_grid(da, db, radius=r).collect()
    )
    assert got == exp
    assert (A[0][0], 999, 250000) in got  # the boundary pair made it
    with pytest.raises(ValueError):
        proximity_join_grid(da, db, radius=0)


def test_density_clusters_roles_and_labels(spark):
    """Grid DBSCAN: two blobs cluster separately with min-id labels,
    a point within eps of a core (but under-dense itself) is border
    with the minimum neighboring core's label, an isolated point is
    noise; matches a brute-force union-find reference."""
    import pytest

    from python_etl_mailing_automation_spark.datapipe.spatial import (
        density_clusters,
    )

    pts = (
        [(i, 100 + (i % 5) * 10, 100 + (i // 5) * 10) for i in range(25)]
        + [(100 + i, 1000 + (i % 4) * 10, 1000 + (i // 4) * 10)
           for i in range(16)]
        + [(500, 160, 100), (600, 5000, 5000)]
    )
    df = spark.createDataFrame(pts, "id long, x long, y long")
    out = {
        r.id: (r.role, r.cluster_id)
        for r in density_clusters(df, eps=15, min_pts=5).collect()
    }

    def nbrs(p):
        return [
            q for q in pts
            if (p[1] - q[1]) ** 2 + (p[2] - q[2]) ** 2 <= 225
        ]

    cores = {p[0] for p in pts if len(nbrs(p)) >= 5}
    parent = {c: c for c in cores}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for p in pts:
        if p[0] in cores:
            for q in nbrs(p):
                if q[0] in cores and q[0] != p[0]:
                    ra, rb = find(p[0]), find(q[0])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    club = {c: find(c) for c in cores}
    exp = {}
    for p in pts:
        if p[0] in cores:
            exp[p[0]] = ("core", club[p[0]])
        else:
            cn = [club[q[0]] for q in nbrs(p) if q[0] in cores]
            exp[p[0]] = ("border", min(cn)) if cn else ("noise", None)
    assert out == exp
    assert {v[0] for v in out.values()} == {"core", "border", "noise"}
    with pytest.raises(ValueError):
        density_clusters(df, eps=15, min_pts=0)


def test_random_walks_deterministic_md5_choice(spark):
    """Walks follow exactly the salted-md5-picked neighbor at each
    step (pinned against a pure-Python replay), dead ends stop with
    steps_taken recording the truncation, and a different salt gives a
    different (but still deterministic) walk set."""
    import hashlib

    import pytest

    from python_etl_mailing_automation_spark.datapipe.graph import (
        random_walks,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (5, 5), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {
        r.walk_id: (r.final_node, r.path, r.steps_taken)
        for r in random_walks(df, walk_length=3).collect()
    }
    adj: dict = {}
    for s, d in sorted(set(edges)):
        adj.setdefault(s, []).append(d)

    def pick(w, t):
        return int(
            hashlib.md5(f"{w}|{t}|rw".encode()).hexdigest()[:8], 16
        )

    for n in sorted({x for e in edges for x in e}):
        cur, path, steps = n, str(n), 0
        for t in range(1, 4):
            if cur not in adj:
                break
            cur = adj[cur][pick(n, t) % len(adj[cur])]
            path += f">{cur}"
            steps += 1
        assert out[n] == (cur, path, steps)
    assert out[7] == (7, "7", 0)  # dead end from the start
    with pytest.raises(ValueError):
        random_walks(df, walk_length=0)


def test_ktruss_edge_peeling(spark):
    """K4 edges (2 triangles each) survive k=4 while a pendant
    triangle (support-1 edges) is peeled; k=3 keeps every
    triangle-supported edge; reported support is recomputed WITHIN the
    surviving subgraph; validation raises."""
    import pytest

    from python_etl_mailing_automation_spark.datapipe.graph import ktruss

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (4, 6), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out4 = sorted(
        (r.src, r.dst, r.support)
        for r in ktruss(df, k=4, max_rounds=3).collect()
    )
    assert out4 == [(1, 2, 2), (1, 3, 2), (1, 4, 2), (2, 3, 2),
                    (2, 4, 2), (3, 4, 2)]
    out3 = sorted(
        (r.src, r.dst) for r in ktruss(df, k=3, max_rounds=3).collect()
    )
    assert out3 == sorted((min(a, b), max(a, b)) for a, b in edges)
    assert ktruss(df, k=5, max_rounds=3).count() == 0
    with pytest.raises(ValueError):
        ktruss(df, k=2)


def test_dictionary_phrase_matches_offset_alignment(spark):
    """count==len offset alignment: partial prefixes don't match,
    overlapping occurrences both count, repeated tokens within a
    phrase stay sound, single-token phrases work."""
    from python_etl_mailing_automation_spark.datapipe.text import (
        dictionary_phrase_matches,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown quick brown fox"),
            (3, "nothing here"),
            (4, "fox fox fox"),
        ],
        "doc_id long, text string",
    )
    ph = spark.createDataFrame(
        [
            (10, "quick brown fox"),
            (11, "fox fox"),
            (12, "the"),
            (13, "lazy dogs"),
        ],
        "phrase_id long, phrase string",
    )
    out = {
        (r.doc_id, r.phrase_id): (r.n_matches, r.first_pos)
        for r in dictionary_phrase_matches(docs, ph).collect()
    }
    assert out == {
        (1, 10): (1, 2),
        (2, 10): (1, 3),   # the first 'quick brown' never completes
        (4, 11): (2, 1),   # overlapping fox-fox at positions 1 and 2
        (1, 12): (2, 1),
    }


def test_greedy_set_cover_selection(spark):
    """Greedy picks max-new-coverage docs, ties to the smallest id,
    subset docs add nothing and the loop stops early; covered_total
    is the running union size."""
    import pytest

    from python_etl_mailing_automation_spark.datapipe.curation import (
        greedy_set_cover,
    )

    pairs = (
        [(1, f) for f in "abcde"]
        + [(2, f) for f in "defgh"]
        + [(3, f) for f in "ab"]
    )
    df = spark.createDataFrame(pairs, "doc_id long, facet string")
    out = [
        (r.round, r.doc_id, r.gain, r.covered_total)
        for r in greedy_set_cover(df, k=5).collect()
    ]
    assert out == [(1, 1, 5, 5), (2, 2, 3, 8)]  # doc 3 never selected
    with pytest.raises(ValueError):
        greedy_set_cover(df, k=0)


def test_mmr_topk_diversifies_and_matches_reference(spark):
    """MMR equals an independent python fold (incl. NEGATIVE pair
    similarities — the penalty must not clamp at zero), high lam keeps
    the relevance order, low lam picks the orthogonal directions, and
    validation raises."""
    import math

    import pytest

    from python_etl_mailing_automation_spark.datapipe.similarity import (
        mmr_topk,
    )

    vecs = {
        1: [1.0, 0.0, 0.0], 2: [0.99, 0.1, 0.0], 3: [0.98, 0.15, 0.05],
        4: [0.0, 1.0, 0.0], 5: [0.0, 0.0, 1.0], 6: [0.5, 0.5, 0.0],
        8: [-0.4, 0.9, 0.0],   # negative sim vs the query direction
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    q = [1.0, 0.0, 0.0]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    for lam in (0.7, 0.3):
        got = [
            r.id for r in mmr_topk(q, df, k=4, lam=lam, n_candidates=7).collect()
        ]
        rel = {i: cos(v, q) for i, v in vecs.items()}
        S, rem = [], set(vecs)
        for _ in range(4):
            best = None
            for d in sorted(rem):
                ms = max((cos(vecs[d], vecs[s]) for s in S), default=0.0)
                sc = lam * rel[d] - (1 - lam) * ms
                if best is None or sc > best[0]:
                    best = (sc, d)
            S.append(best[1])
            rem.discard(best[1])
        assert got == S, (lam, got, S)
    low = [r.id for r in mmr_topk(q, df, k=3, lam=0.3, n_candidates=7).collect()]
    assert set(low[1:]) <= {4, 5, 8}  # diversification away from near-dups
    with pytest.raises(ValueError):
        mmr_topk(q, df, k=0)
    with pytest.raises(ValueError):
        mmr_topk(q, df, k=5, n_candidates=3)


def test_gini_concentration_closed_form(spark):
    """Perfect equality -> 0; one holder of everything -> (n-1)/n;
    all-zero group -> NULL (undefined, never 0/0); negatives/NULLs
    excluded and witnessed."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        gini_concentration,
    )

    rows = (
        [("eq", 10.0)] * 5
        + [("one", 0.0)] * 4 + [("one", 50.0)]
        + [("zero", 0.0)] * 3
        + [("mix", 1.0), ("mix", 2.0), ("mix", 3.0), ("mix", -4.0),
           ("mix", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r.g: (r.gini, r.n, r.total, r.n_excluded)
        for r in gini_concentration(df, "v", group_col="g").collect()
    }
    assert abs(out["eq"][0]) < 1e-12
    assert abs(out["one"][0] - 0.8) < 1e-12
    assert out["zero"][0] is None
    assert abs(out["mix"][0] - 4 / 18) < 1e-9
    assert out["mix"][1:] == (3, 6.0, 2)


def test_weighted_quantiles_zero_total_group_emits_nothing(spark):
    """A group whose kept weights are all zero has an empty weighted
    distribution: it must emit NO quantile rows (the pre-fix behavior
    emitted its min value as every quantile with cum_weight 0)."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        weighted_quantiles,
    )

    df = spark.createDataFrame(
        [("z", 1.0, 0), ("z", 2.0, 0), ("ok", 5.0, 2), ("ok", 7.0, 2)],
        "g string, v double, w int",
    )
    out = weighted_quantiles(df, "v", "w", [(1, 2)], group_col="g").collect()
    assert {r.g for r in out} == {"ok"}
    (r,) = out
    assert (r.value, r.cum_weight, r.total_weight) == (5.0, 2, 4)


def test_benford_sub_micro_values_are_excluded(spark):
    """The DECIMAL(38,6) grid is the documented measurement floor: a
    positive value below 5e-7 rounds to 0.000000, yields no leading
    digit, and lands in n_excluded (not in any digit bucket)."""
    from python_etl_mailing_automation_spark.datapipe.stats import (
        benford_profile,
    )

    df = spark.createDataFrame(
        [(1e-8,), (4.9e-7,), (123.4,), (20.0,), (-3.0,), (None,)],
        "v double",
    )
    rows = benford_profile(df, "v").collect()
    assert all(r.n_total == 2 for r in rows)  # 123.4 and 20.0 only
    assert all(r.n_excluded == 4 for r in rows)  # 2 sub-micro + neg + NULL
    by_digit = {r.digit: r.n for r in rows}
    assert by_digit[1] == 1 and by_digit[2] == 1
    assert sum(by_digit.values()) == 2


def test_set_cover_string_ids_and_typed_output(spark):
    """The greedy tie-break is comparison-based: string doc ids work,
    the output id column keeps the input type, and ties go to the
    smallest id."""
    from python_etl_mailing_automation_spark.datapipe.curation import (
        greedy_set_cover,
    )

    df = spark.createDataFrame(
        [("b", "f1"), ("b", "f2"), ("a", "f1"), ("a", "f2"), ("c", "f3")],
        "doc_id string, facet string",
    )
    out = greedy_set_cover(df, k=3)
    assert dict(out.dtypes)["doc_id"] == "string"
    rows = out.orderBy("round").collect()
    # round 1: a and b tie at gain 2 -> smallest id "a"; round 2: c.
    assert [(r["round"], r.doc_id, r.gain, r.covered_total) for r in rows] == [
        (1, "a", 2, 2),
        (2, "c", 1, 3),
    ]
    assert dict(out.dtypes)["round"] == "bigint"


def test_global_running_sums_matches_single_window(spark):
    """The bucketed two-pass prefix equals a brute global cumulative sum
    for any bucket count, including boundary-degenerate ones (1 bucket,
    more buckets than rows), and never plans an unpartitioned window."""
    from python_etl_mailing_automation_spark.datapipe.prefix import (
        global_running_sums,
    )

    rows = [(i, (i * 37) % 11, (i * 13) % 5) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    expect_a = 0
    expect = {}
    run_a = run_b = 0
    for k, a, b in sorted(rows):
        run_a += a
        run_b += b
        expect[k] = (run_a, run_b)
    for nb in (1, 4, 17, 1000):
        out = global_running_sums(
            df, ["k"], {"ca": "a", "cb": "b"}, n_buckets=nb
        )
        got = {r.k: (r.ca, r.cb) for r in out.collect()}
        assert got == expect, f"n_buckets={nb}"
        if nb == 1:
            # one bucket IS a global window — the documented degenerate
            # case; the plan guarantee applies to real bucket counts.
            continue
        plan = out._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            s = line.strip().lstrip("+-: *")
            if s.startswith("Window "):
                # partitioned windows print [exprs], [partition], [order]
                assert s.count("], [") >= 2, s


class TestPerceptron:
    def test_matches_numpy_replay(self, spark):
        import numpy as np

        from python_etl_mailing_automation_spark.datapipe.classify import (
            perceptron_train,
        )

        rng = [(int(x1), int(x2), 1 if 2 * x1 - x2 > 0 else -1)
               for x1, x2 in [(3, 1), (1, 5), (4, 2), (0, 3), (5, 9),
                              (7, 1), (2, 2), (6, 14), (8, 3), (1, 1)]]
        df = spark.createDataFrame(rng, "x1 long, x2 long, y long")
        out = perceptron_train(df, ["x1", "x2"], "y", n_iter=4).collect()

        w = np.zeros(2, dtype=object); b = 0
        X = np.array([(r[0], r[1]) for r in rng], dtype=object)
        Y = np.array([r[2] for r in rng], dtype=object)
        for t, row in enumerate(out, start=1):
            m = Y * (X @ w + b)
            mis = m <= 0
            assert row["iter"] == t
            assert row["n_misclassified"] == int(mis.sum())
            w = w + (Y[mis, None] * X[mis]).sum(axis=0)
            b = b + Y[mis].sum()
            assert (row["w_x1"], row["w_x2"], row["bias"]) == (
                int(w[0]), int(w[1]), int(b)
            )

    def test_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            perceptron_train,
        )

        rows = [(i, (i * 7) % 13, 1 if i % 3 else -1) for i in range(200)]
        df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
        a = perceptron_train(df.repartition(1), ["x1", "x2"], "y").collect()
        b = perceptron_train(df.repartition(17), ["x1", "x2"], "y").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_round_one_counts_everything(self, spark):
        # Zero weights give margin 0 for every row: ties are
        # misclassified by contract, so round 1 reports the row count.
        from python_etl_mailing_automation_spark.datapipe.classify import (
            perceptron_train,
        )

        df = spark.createDataFrame(
            [(1, 1), (2, -1), (3, 1)], "x long, y long"
        )
        out = perceptron_train(df, ["x"], "y", n_iter=1).collect()
        assert out[0]["n_misclassified"] == 3


class TestExactStatsFamily:
    def test_ols_multi2_matches_numpy(self, spark):
        import numpy as np

        from python_etl_mailing_automation_spark.datapipe.stats import (
            ols_multi2,
        )

        rows = [(i % 7, (i * 3) % 11, 5 + 2 * (i % 7) - 3 * ((i * 3) % 11) + (i % 2))
                for i in range(60)]
        df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
        out = ols_multi2(df, "x1", "x2", "y").collect()[0]
        X = np.array([[1, r[0], r[1]] for r in rows], dtype=float)
        Y = np.array([r[2] for r in rows], dtype=float)
        beta = np.linalg.lstsq(X, Y, rcond=None)[0]
        assert out["n"] == 60
        assert abs(out["intercept"] - beta[0]) < 1e-9
        assert abs(out["b1"] - beta[1]) < 1e-9
        assert abs(out["b2"] - beta[2]) < 1e-9

    def test_ols_multi2_singular_gives_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            ols_multi2,
        )

        # x2 = 2*x1: collinear -> singular Gram -> NULL coefficients.
        rows = [(i, 2 * i, i + 1) for i in range(10)]
        df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
        out = ols_multi2(df, "x1", "x2", "y").collect()[0]
        assert out["intercept"] is None and out["b1"] is None

    def test_chi_square_matches_reference(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            chi_square_independence,
        )

        # 2x2 table [[10, 20], [30, 40]]: chi2 = n*(ad-bc)^2/(r1*r2*c1*c2)
        rows = (
            [("a", "x")] * 10 + [("a", "y")] * 20
            + [("b", "x")] * 30 + [("b", "y")] * 40
        )
        df = spark.createDataFrame(rows, "u string, v string")
        out = chi_square_independence(df, "u", "v").collect()[0]
        n, a, b, c, d = 100, 10, 20, 30, 40
        expect = n * (a * d - b * c) ** 2 / (30 * 70 * 40 * 60)
        assert out["dof"] == 1 and out["n"] == 100
        assert abs(out["chi2"] - expect) < 1e-6  # 2^30 grid quantization

    def test_anova_f_matches_reference(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            anova_f,
        )

        groups = {"g1": [1, 2, 3, 4], "g2": [5, 6, 7, 8], "g3": [2, 2, 3, 3]}
        rows = [(g, v) for g, vs in groups.items() for v in vs]
        df = spark.createDataFrame(rows, "g string, v long")
        out = anova_f(df, "g", "v").collect()[0]
        vals = [v for vs in groups.values() for v in vs]
        mean = sum(vals) / len(vals)
        ssb = sum(len(vs) * (sum(vs) / len(vs) - mean) ** 2
                  for vs in groups.values())
        ssw = sum((v - sum(vs) / len(vs)) ** 2
                  for vs in groups.values() for v in vs)
        f = (ssb / 2) / (ssw / 9)
        assert out["k"] == 3 and out["n"] == 12
        assert abs(out["ssb"] - ssb) < 1e-4
        assert abs(out["ssw"] - ssw) < 1e-4
        assert abs(out["f"] - f) < 1e-4

    def test_family_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            anova_f,
            chi_square_independence,
            ols_multi2,
        )

        rows = [(f"g{i % 5}", i % 13, (i * 7) % 17, i % 23)
                for i in range(300)]
        df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
        for fn in (
            lambda d: ols_multi2(d, "x1", "x2", "y", group_col="g"),
            lambda d: chi_square_independence(d, "g", "x1"),
            lambda d: anova_f(d, "g", "y"),
        ):
            a = fn(df.repartition(1)).collect()
            b = fn(df.repartition(19)).collect()
            assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestTwoSampleDrift:
    def _df(self, spark, a_vals, b_vals):
        rows = [("a", float(v)) for v in a_vals] + [
            ("b", float(v)) for v in b_vals
        ]
        return spark.createDataFrame(rows, "g string, v double")

    def test_ks_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            ks_two_sample,
        )

        a = [1, 2, 2, 3, 5, 8, 8, 9]
        b = [2, 3, 3, 4, 4, 7, 9, 9, 10]
        out = ks_two_sample(
            self._df(spark, a, b), "g", "v", "a", "b"
        ).collect()[0]
        vals = sorted(set(a) | set(b))
        brute = max(
            abs(sum(1 for x in a if x <= v) * len(b)
                - sum(1 for x in b if x <= v) * len(a))
            for v in vals
        )
        assert (out["n_a"], out["n_b"], out["d_num"]) == (8, 9, brute)
        assert abs(out["d"] - brute / (8 * 9)) < 1e-15

    def test_mann_whitney_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            mann_whitney_u,
        )

        a = [1, 2, 2, 3, 5, 8, 8, 9]
        b = [2, 3, 3, 4, 4, 7, 9, 9, 10]
        out = mann_whitney_u(
            self._df(spark, a, b), "g", "v", "a", "b"
        ).collect()[0]
        # Midrank brute force.
        allv = sorted(a + b)
        ranks = {}
        i = 0
        while i < len(allv):
            j = i
            while j < len(allv) and allv[j] == allv[i]:
                j += 1
            ranks[allv[i]] = (i + 1 + j) / 2
            i = j
        ra = sum(ranks[x] for x in a)
        u_a = ra - len(a) * (len(a) + 1) / 2
        assert out["u2_a"] == int(2 * u_a)
        assert abs(out["u_a"] - u_a) < 1e-12
        # u_a + u_b == n_a * n_b (the classic identity, via group swap).
        out_b = mann_whitney_u(
            self._df(spark, a, b), "g", "v", "b", "a"
        ).collect()[0]
        assert out["u2_a"] + out_b["u2_a"] == 2 * len(a) * len(b)

    def test_drift_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            ks_two_sample,
            mann_whitney_u,
        )

        rows = [("a" if i % 3 else "b", float((i * 7) % 23))
                for i in range(500)]
        df = spark.createDataFrame(rows, "g string, v double")
        for fn in (ks_two_sample, mann_whitney_u):
            x = fn(df.repartition(1), "g", "v", "a", "b").collect()
            y = fn(df.repartition(19), "g", "v", "a", "b").collect()
            assert sorted(map(tuple, x)) == sorted(map(tuple, y))


class TestRobustAndBootstrap:
    def test_theil_sen_recovers_clean_trend(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            theil_sen,
        )

        # Exact line y = 3x + 7 with two gross outliers: the median
        # slope must stay exactly 3 (OLS would not).
        rows = [(i, 3 * i + 7) for i in range(40)] + [(100, -5000),
                                                      (101, 9000)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = theil_sen(df, "x", "y", n_sample=42).collect()[0]
        assert out["n_used"] == 42
        assert abs(out["slope"] - 3.0) < 1e-12
        assert abs(out["intercept"] - 7.0) < 1e-9

    def test_theil_sen_constant_x_gives_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            theil_sen,
        )

        df = spark.createDataFrame(
            [(5, i) for i in range(10)], "x long, y long"
        )
        out = theil_sen(df, "x", "y").collect()[0]
        assert out["n_pairs"] == 0 and out["slope"] is None

    def test_theil_sen_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            theil_sen,
        )

        rows = [((i * 13) % 101, (i * 7) % 89) for i in range(500)]
        df = spark.createDataFrame(rows, "x long, y long")
        a = theil_sen(df.repartition(1), "x", "y").collect()
        b = theil_sen(df.repartition(23), "x", "y").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_bootstrap_ci_brackets_mean_and_replays(self, spark):
        import hashlib

        from python_etl_mailing_automation_spark.datapipe.stats import (
            _POISSON1_T60,
            bootstrap_ci,
        )

        rows = [(str(i), 50 + (i * 17) % 25) for i in range(400)]
        df = spark.createDataFrame(rows, "id string, v long")
        out = bootstrap_ci(df, "id", "v", n_boot=32).collect()[0]
        true_mean = sum(v for _, v in rows) / len(rows)
        assert out["n_rows"] == 400
        assert abs(out["mean"] - true_mean) < 1e-12
        assert out["ci_lo"] <= out["mean"] <= out["ci_hi"]
        # Python replay of replica 0's exact mean.
        swv = sw = 0
        for rid, v in rows:
            u = int(hashlib.md5(f"{rid}|0|boot".encode()).hexdigest()[:15],
                    16)
            w = sum(1 for t in _POISSON1_T60 if u >= t)
            swv += w * v
            sw += w
        assert sw > 0
        # With n_boot=1 the CI degenerates to replica 0's exact mean —
        # direct equality against the Python md5/threshold replay.
        one = bootstrap_ci(df, "id", "v", n_boot=1).collect()[0]
        assert one["n_boot_used"] == 1
        assert one["ci_lo"] == one["ci_hi"] == swv / sw
        # And the operator is a pure function of its input.
        again = bootstrap_ci(df, "id", "v", n_boot=32).collect()[0]
        assert tuple(out) == tuple(again)

    def test_bootstrap_ci_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            bootstrap_ci,
        )

        rows = [(str(i), (i * 31) % 97) for i in range(300)]
        df = spark.createDataFrame(rows, "id string, v long")
        a = bootstrap_ci(df.repartition(1), "id", "v").collect()
        b = bootstrap_ci(df.repartition(13), "id", "v").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestSpearman:
    def test_matches_brute_midranks(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            spearman_rho,
        )

        rows = [(1, 2), (2, 1), (2, 4), (3, 3), (5, 5), (5, 5), (8, 7)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = spearman_rho(df, "x", "y").collect()[0]

        def midranks(vals):
            s = sorted(vals)
            return {  # value -> midrank (over ALL occurrences)
                v: (s.index(v) + 1 + len(s) - s[::-1].index(v)) / 2
                for v in set(vals)
            }

        xs = [r[0] for r in rows]
        ys = [r[1] for r in rows]
        mx, my = midranks(xs), midranks(ys)
        rx = [mx[v] for v in xs]
        ry = [my[v] for v in ys]
        n = len(rows)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(a * a for a in rx)
        syy = sum(a * a for a in ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        import math

        rho = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        assert out["n"] == n
        assert abs(out["rho"] - rho) < 1e-12

    def test_perfect_monotone_is_one(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            spearman_rho,
        )

        df = spark.createDataFrame(
            [(i, i * i * i) for i in range(30)], "x long, y long"
        )
        out = spearman_rho(df, "x", "y").collect()[0]
        assert abs(out["rho"] - 1.0) < 1e-15  # cubic is monotone

    def test_constant_column_gives_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            spearman_rho,
        )

        df = spark.createDataFrame(
            [(i, 7) for i in range(10)], "x long, y long"
        )
        assert spearman_rho(df, "x", "y").collect()[0]["rho"] is None

    def test_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            spearman_rho,
        )

        rows = [((i * 13) % 101, (i * 29) % 97) for i in range(400)]
        df = spark.createDataFrame(rows, "x long, y long")
        a = spearman_rho(df.repartition(1), "x", "y").collect()
        b = spearman_rho(df.repartition(17), "x", "y").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestRocAuc:
    """stats.roc_auc — exact tie-aware AUC."""

    def test_matches_brute_force(self, spark):
        import itertools
        from python_etl_mailing_automation_spark.datapipe.stats import roc_auc

        rows = [
            ("g", 1, 5.0), ("g", 1, 3.0), ("g", 0, 3.0), ("g", 0, 1.0),
            ("g", 1, 1.0), ("g", 0, 0.5), ("h", 1, 2.0), ("h", 0, 2.0),
        ]
        df = spark.createDataFrame(rows, ["grp", "y", "s"])
        got = {
            r["grp"]: (r["n_pos"], r["n_neg"], r["auc"])
            for r in roc_auc(df, "y", "s", group_col="grp").collect()
        }
        for g in ("g", "h"):
            pos = [s for gg, y, s in rows if gg == g and y == 1]
            neg = [s for gg, y, s in rows if gg == g and y == 0]
            brute = sum(
                1.0 if p > n else (0.5 if p == n else 0.0)
                for p, n in itertools.product(pos, neg)
            ) / (len(pos) * len(neg))
            n_pos, n_neg, auc = got[g]
            assert (n_pos, n_neg) == (len(pos), len(neg))
            assert auc == brute

    def test_perfect_separation_is_one(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import roc_auc

        df = spark.createDataFrame(
            [(1, 10.0), (1, 9.0), (0, 2.0), (0, 1.0)], ["y", "s"]
        )
        assert roc_auc(df, "y", "s").collect()[0]["auc"] == 1.0

    def test_single_class_gives_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import roc_auc

        df = spark.createDataFrame([(1, 1.0), (1, 2.0)], ["y", "s"])
        assert roc_auc(df, "y", "s").collect()[0]["auc"] is None

    def test_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import roc_auc

        rows = [(i % 3, i % 2, float((i * 7) % 11)) for i in range(60)]
        df = spark.createDataFrame(rows, ["grp", "y", "s"])
        a = sorted(
            roc_auc(df, "y", "s", group_col="grp").collect(),
            key=lambda r: r["grp"],
        )
        b = sorted(
            roc_auc(df.repartition(7), "y", "s", group_col="grp").collect(),
            key=lambda r: r["grp"],
        )
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestAcfLags:
    """timeseries.acf_lags — exact integer autocorrelation."""

    def test_matches_numpy_style_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.timeseries import (
            acf_lags,
        )

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
        df = spark.createDataFrame(
            [("k", i, x) for i, x in enumerate(xs)], ["key", "t", "x"]
        )
        out = {
            r["lag"]: r["acf"]
            for r in acf_lags(df, "key", "t", "x", max_lag=3).collect()
        }
        n = len(xs)
        mean = sum(xs) / n
        den = sum((x - mean) ** 2 for x in xs)
        for k in (1, 2, 3):
            num = sum(
                (xs[t] - mean) * (xs[t + k] - mean) for t in range(n - k)
            )
            assert abs(out[k] - num / den) < 1e-12

    def test_short_series_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.timeseries import (
            acf_lags,
        )

        df = spark.createDataFrame([("k", 0, 1), ("k", 1, 2)], ["key", "t", "x"])
        out = {
            r["lag"]: r["acf"]
            for r in acf_lags(df, "key", "t", "x", max_lag=3).collect()
        }
        assert out[2] is None and out[3] is None

    def test_constant_series_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.timeseries import (
            acf_lags,
        )

        df = spark.createDataFrame(
            [("k", i, 7) for i in range(10)], ["key", "t", "x"]
        )
        assert all(
            r["acf"] is None
            for r in acf_lags(df, "key", "t", "x", max_lag=2).collect()
        )

    def test_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.timeseries import (
            acf_lags,
        )

        rows = [(i % 4, i, (i * 13) % 17) for i in range(80)]
        df = spark.createDataFrame(rows, ["key", "t", "x"])
        a = sorted(
            acf_lags(df, "key", "t", "x").collect(),
            key=lambda r: (r["key"], r["lag"]),
        )
        b = sorted(
            acf_lags(df.repartition(5), "key", "t", "x").collect(),
            key=lambda r: (r["key"], r["lag"]),
        )
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestBm25:
    """text.bm25_topk — rational-idf Okapi BM25."""

    def test_matches_formula(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import bm25_topk

        docs = [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple apple apple cherry date"),
            (4, "date egg fig"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out = {
            r["doc_id"]: (r["score"], r["n_terms"])
            for r in bm25_topk(df, ["apple", "cherry"], k=10).collect()
        }
        texts = {d: t.split() for d, t in docs}
        N = len(docs)
        S = sum(len(t) for t in texts.values())
        k1, b = 1.2, 0.75
        dfreq = {
            t: sum(1 for toks in texts.values() if t in toks)
            for t in ("apple", "cherry")
        }
        for doc_id, toks in texts.items():
            exp = 0.0
            n_terms = 0
            for t in sorted(("apple", "cherry")):
                tf = toks.count(t)
                if tf == 0:
                    continue
                n_terms += 1
                num = (2 * N - 2 * dfreq[t] + 1) * 22 * S * tf
                den = (2 * dfreq[t] + 1) * (10 * S * tf + 3 * S + 9 * len(toks) * N)
                exp += num / den
                # rational form equals the classic Okapi value
                idf = (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
                classic = idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(toks) / (S / N))
                )
                assert abs(num / den - classic) < 1e-9
            if n_terms:
                assert out[doc_id][1] == n_terms
                assert abs(out[doc_id][0] - exp) < 1e-12
            else:
                assert doc_id not in out

    def test_rejects_empty(self, spark):
        import pytest as _pytest
        from python_etl_mailing_automation_spark.datapipe.text import bm25_topk

        df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
        with _pytest.raises(ValueError):
            bm25_topk(df, [], k=5)


class TestNdcg:
    """text.ndcg_at_k — literal-discount NDCG."""

    def test_matches_brute(self, spark):
        import math
        from python_etl_mailing_automation_spark.datapipe.text import ndcg_at_k

        rows = [("q", i, rel, float(sc)) for i, (rel, sc) in enumerate(
            [(3, 10), (2, 9), (3, 8), (0, 7), (1, 6), (2, 5), (0, 4)]
        )]
        df = spark.createDataFrame(rows, ["q", "i", "rel", "sc"])
        r = ndcg_at_k(
            df, group_col="q", id_col="i", rel_col="rel",
            score_col="sc", k=5,
        ).collect()[0]
        rels = [3, 2, 3, 0, 1]           # by sc desc
        ideal = sorted([3, 2, 3, 0, 1, 2, 0], reverse=True)[:5]
        dcg = sum(g / math.log2(i + 2) for i, g in enumerate(rels))
        idcg = sum(g / math.log2(i + 2) for i, g in enumerate(ideal))
        assert r["n_items"] == 7
        assert abs(r["dcg"] - dcg) < 1e-12
        assert abs(r["idcg"] - idcg) < 1e-12
        assert abs(r["ndcg"] - dcg / idcg) < 1e-12

    def test_all_zero_grades_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import ndcg_at_k

        df = spark.createDataFrame(
            [("q", 1, 0, 1.0), ("q", 2, 0, 2.0)], ["q", "i", "rel", "sc"]
        )
        r = ndcg_at_k(
            df, group_col="q", id_col="i", rel_col="rel",
            score_col="sc", k=3,
        ).collect()[0]
        assert r["ndcg"] is None and r["dcg"] == 0.0


class TestConfusionMetrics:
    """classify.confusion_metrics — per-class P/R/F1."""

    def test_matches_sklearn_style_counts(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            confusion_metrics,
        )

        pairs = [(0, 0), (0, 1), (1, 1), (1, 1), (1, 0), (2, 2), (2, 1)]
        df = spark.createDataFrame(pairs, ["y", "p"])
        out = {r["class"]: r for r in confusion_metrics(df, "y", "p").collect()}
        # class 1: tp=2 (rows (1,1)x2), fp=2 ((0,1),(2,1)), fn=1 ((1,0))
        assert (out[1]["tp"], out[1]["fp"], out[1]["fn"]) == (2, 2, 1)
        assert out[1]["precision"] == 2 / 4
        assert out[1]["recall"] == 2 / 3
        p, r = 0.5, 2 / 3
        assert abs(out[1]["f1"] - 2 * p * r / (p + r)) < 1e-15
        # class 2: tp=1, fp=0, fn=1
        assert (out[2]["tp"], out[2]["fp"], out[2]["fn"]) == (1, 0, 1)

    def test_pred_only_class_appears(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            confusion_metrics,
        )

        df = spark.createDataFrame([(0, 5), (0, 0)], ["y", "p"])
        out = {r["class"]: r for r in confusion_metrics(df, "y", "p").collect()}
        assert out[5]["tp"] == 0 and out[5]["fp"] == 1 and out[5]["fn"] == 0
        assert out[5]["recall"] is None


class TestWasserstein1d:
    """stats.wasserstein_1d — exact integral drift."""

    def test_matches_brute_force(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            wasserstein_1d,
        )

        a = [1, 3, 3, 7, 10]
        b = [2, 2, 5, 9]
        rows = [("a", v) for v in a] + [("b", v) for v in b]
        df = spark.createDataFrame(rows, ["g", "v"])
        r = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
        # brute: integrate |F_a - F_b| over the value range
        vals = sorted(set(a + b))
        num = 0
        for v, nx in zip(vals, vals[1:]):
            ca = sum(1 for x in a if x <= v)
            cb = sum(1 for x in b if x <= v)
            num += abs(ca * len(b) - cb * len(a)) * (nx - v)
        assert (r["n_a"], r["n_b"]) == (len(a), len(b))
        assert r["w1_num"] == num
        assert r["w1"] == num / (len(a) * len(b))
        # cross-check against the classic sorted-quantile formula on
        # equal-sized samples (here unequal, so skip) - identity check:
        # shifting b by +c shifts W1 by at most c.

    def test_identical_samples_zero(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            wasserstein_1d,
        )

        rows = [("a", v) for v in (1, 5, 9)] + [("b", v) for v in (1, 5, 9)]
        df = spark.createDataFrame(rows, ["g", "v"])
        r = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
        assert r["w1_num"] == 0 and r["w1"] == 0.0

    def test_constant_shift(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            wasserstein_1d,
        )

        a = [10, 20, 30]
        b = [x + 7 for x in a]
        rows = [("a", v) for v in a] + [("b", v) for v in b]
        df = spark.createDataFrame(rows, ["g", "v"])
        # W1 of a shifted copy is exactly the shift
        assert wasserstein_1d(df, "g", "v", "a", "b").collect()[0]["w1"] == 7.0

    def test_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            wasserstein_1d,
        )

        rows = [("a" if i % 2 else "b", (i * 13) % 101) for i in range(200)]
        df = spark.createDataFrame(rows, ["g", "v"])
        r1 = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
        r2 = wasserstein_1d(
            df.repartition(7), "g", "v", "a", "b"
        ).collect()[0]
        assert tuple(r1) == tuple(r2)


class TestGlobalNextValue:
    """prefix.global_next_value — bucketed global lead."""

    def test_matches_sorted_lead(self, spark):
        from python_etl_mailing_automation_spark.datapipe.prefix import (
            global_next_value,
        )

        vals = [(v,) for v in (5, 1, 9, 3, 7, 2, 100, 42)]
        df = spark.createDataFrame(vals, ["v"])
        out = {
            r["v"]: r["nxt"]
            for r in global_next_value(df, "v", "nxt").collect()
        }
        s = sorted(v for v, in vals)
        exp = {v: n for v, n in zip(s, s[1:])}
        exp[s[-1]] = None
        assert out == exp

    def test_single_bucket_degenerates(self, spark):
        from python_etl_mailing_automation_spark.datapipe.prefix import (
            global_next_value,
        )

        df = spark.createDataFrame([(1,), (2,)], ["v"])
        # the bucket count follows the session's shuffle partitions
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            out = {
                r["v"]: r["nxt"]
                for r in global_next_value(df, "v", "nxt").collect()
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
        assert out == {1: 2, 2: None}


class TestSimpsonDiversity:
    """text.simpson_diversity — exact rational diversity."""

    def test_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            simpson_diversity,
        )

        df = spark.createDataFrame(
            [("s", "a a b c"), ("s", "a b"), ("t", "x y z")],
            ["source", "text"],
        )
        out = {
            r["source"]: r for r in simpson_diversity(df).collect()
        }
        # s: tokens a,a,b,c,a,b -> counts a=3,b=2,c=1; N=6
        ss = 3 * 2 + 2 * 1 + 0
        assert out["s"]["n_tokens"] == 6 and out["s"]["n_types"] == 3
        assert out["s"]["simpson"] == 1.0 - ss / (6 * 5)
        assert out["s"]["inv_simpson"] == (6 * 5) / ss
        # t: all distinct -> no repeats: simpson = 1, inv undefined
        assert out["t"]["simpson"] == 1.0
        assert out["t"]["inv_simpson"] is None


class TestRetrievalMetrics:
    """text.retrieval_metrics — binary-relevance scorecard."""

    def test_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            retrieval_metrics,
        )

        # ranking by sc desc: ids 1(9.0,rel0) 2(8.0,rel1) 3(7.0,rel0)
        #                     4(6.0,rel1) 5(5.0,rel1)
        rows = [
            ("q", 1, 0, 9.0), ("q", 2, 1, 8.0), ("q", 3, 0, 7.0),
            ("q", 4, 1, 6.0), ("q", 5, 1, 5.0),
        ]
        df = spark.createDataFrame(rows, ["q", "i", "rel", "sc"])
        r = retrieval_metrics(
            df, group_col="q", id_col="i", rel_col="rel",
            score_col="sc", k=3,
        ).collect()[0]
        assert r["n_items"] == 5 and r["n_rel"] == 3
        assert r["first_rel_rank"] == 2 and r["rr"] == 0.5
        assert r["hits_at_k"] == 1
        assert r["precision_at_k"] == 1 / 3
        assert r["recall_at_k"] == 1 / 3

    def test_no_relevant_gives_nulls(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            retrieval_metrics,
        )

        df = spark.createDataFrame(
            [("q", 1, 0, 1.0), ("q", 2, 0, 2.0)], ["q", "i", "rel", "sc"]
        )
        r = retrieval_metrics(
            df, group_col="q", id_col="i", rel_col="rel",
            score_col="sc", k=2,
        ).collect()[0]
        assert r["first_rel_rank"] is None and r["rr"] is None
        assert r["recall_at_k"] is None and r["precision_at_k"] == 0.0


class TestHarmonicCentrality:
    """graph.harmonic_centrality — lcm-cleared exact reciprocals."""

    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, ["src", "dst"])

    def test_matches_brute_bfs(self, spark):
        import itertools
        from python_etl_mailing_automation_spark.datapipe.graph import (
            harmonic_centrality,
        )

        # path graph 1-2-3-4-5 plus chord 1-4 (directed both ways)
        und = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
        pairs = und + [(b, a) for a, b in und]
        seeds = spark.createDataFrame([(1,), (3,)], ["node"])
        out = {
            r["node"]: (r["n_sources"], r["h_num"], r["harmonic"])
            for r in harmonic_centrality(
                self._edges(spark, pairs), seeds, max_hops=3
            ).collect()
        }
        # brute BFS per seed
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
        import collections
        exp = collections.defaultdict(lambda: [0, 0])
        for s in (1, 3):
            dist = {s: 0}
            q = [s]
            for _ in range(3):
                nq = []
                for n in q:
                    for m_ in adj.get(n, ()):
                        if m_ not in dist:
                            dist[m_] = dist[n] + 1
                            nq.append(m_)
                q = nq
            for n, d in dist.items():
                if 1 <= d <= 3:
                    exp[n][0] += 1
                    exp[n][1] += 6 // d
        assert set(out) == set(exp)
        for n, (ns, hn) in exp.items():
            assert out[n] == (ns, hn, hn / 6.0)

    def test_lcm_divisibility_all_hops(self, spark):
        from python_etl_mailing_automation_spark.datapipe.graph import (
            harmonic_centrality,
        )

        chain = [(i, i + 1) for i in range(1, 6)]
        seeds = spark.createDataFrame([(1,)], ["node"])
        out = {
            r["node"]: r["h_num"]
            for r in harmonic_centrality(
                self._edges(spark, chain), seeds, max_hops=4
            ).collect()
        }
        # lcm(1..4)=12: hops 1,2,3,4 -> 12,6,4,3
        assert out == {2: 12, 3: 6, 4: 4, 5: 3}


class TestVocabOverlap:
    def test_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            vocab_overlap,
        )

        df = spark.createDataFrame(
            [("s", "a b c"), ("t", "b c d"), ("u", "x y")],
            ["source", "text"],
        )
        out = {
            (r["group_a"], r["group_b"]): r
            for r in vocab_overlap(df).collect()
        }
        assert set(out) == {("s", "t")}  # u shares nothing
        r = out[("s", "t")]
        assert (r["n_a"], r["n_b"], r["n_inter"]) == (3, 3, 2)
        assert r["jaccard"] == 2 / 4

    def test_duplicate_tokens_counted_once(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            vocab_overlap,
        )

        df = spark.createDataFrame(
            [("s", "a a a b"), ("t", "a")], ["source", "text"]
        )
        r = vocab_overlap(df).collect()[0]
        assert (r["n_a"], r["n_b"], r["n_inter"]) == (2, 1, 1)
        assert r["jaccard"] == 0.5


class TestTargetEncode:
    def test_matches_formula(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            target_encode,
        )

        rows = [("a", 10), ("a", 20), ("b", 100), (None, 7)]
        df = spark.createDataFrame(rows, ["c", "y"])
        out = {
            r["c"]: r for r in target_encode(df, "c", "y", smoothing=2).collect()
        }
        N, SY = 4, 137
        for cat, ys in (("a", [10, 20]), ("b", [100]), (None, [7])):
            n, sy = len(ys), sum(ys)
            exp = (N * sy + 2 * SY) / (N * (n + 2))
            assert out[cat]["n"] == n and out[cat]["sum_y"] == sy
            assert out[cat]["encoding"] == exp

    def test_zero_smoothing_is_raw_mean(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            target_encode,
        )

        df = spark.createDataFrame([("a", 4), ("a", 8)], ["c", "y"])
        r = target_encode(df, "c", "y", smoothing=0).collect()[0]
        assert r["encoding"] == 6.0


class TestWelchT:
    def test_matches_scipy_formula(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import welch_t

        a = [12, 15, 11, 18, 14]
        b = [22, 19, 25, 21]
        rows = [("a", v) for v in a] + [("b", v) for v in b]
        df = spark.createDataFrame(rows, ["g", "v"])
        r = welch_t(df, "g", "v", "a", "b").collect()[0]
        import statistics
        ma, mb = statistics.mean(a), statistics.mean(b)
        va, vb = statistics.variance(a), statistics.variance(b)
        ra, rb = va / len(a), vb / len(b)
        t = (ma - mb) / (ra + rb) ** 0.5
        dof = (ra + rb) ** 2 / (
            ra**2 / (len(a) - 1) + rb**2 / (len(b) - 1)
        )
        assert (r["n_a"], r["n_b"]) == (5, 4)
        assert abs(r["mean_a"] - ma) < 1e-12
        assert abs(r["t"] - t) < 1e-10
        assert abs(r["df"] - dof) < 1e-10

    def test_tiny_sample_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import welch_t

        df = spark.createDataFrame(
            [("a", 1), ("b", 2), ("b", 3)], ["g", "v"]
        )
        r = welch_t(df, "g", "v", "a", "b").collect()[0]
        assert r["t"] is None and r["df"] is None


class TestLinkPrediction:
    def test_matches_brute(self, spark):
        import itertools
        from python_etl_mailing_automation_spark.datapipe.graph import (
            link_prediction,
        )

        # square 1-2-3-4-1 plus pendant 5 on 1
        und = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 5)]
        df = spark.createDataFrame(und, ["src", "dst"])
        out = {
            (r["node_a"], r["node_b"]): r
            for r in link_prediction(df, min_common=1).collect()
        }
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        exp = {}
        for a, b in itertools.combinations(sorted(adj), 2):
            if b in adj[a]:
                continue
            cn = len(adj[a] & adj[b])
            if cn >= 1:
                exp[(a, b)] = (
                    cn,
                    len(adj[a]),
                    len(adj[b]),
                    cn / len(adj[a] | adj[b]),
                    len(adj[a]) * len(adj[b]),
                )
        assert set(out) == set(exp)
        for k, (cn, da, db, jac, pa) in exp.items():
            r = out[k]
            assert (
                r["common_neighbors"], r["deg_a"], r["deg_b"],
                r["jaccard"], r["pref_attachment"],
            ) == (cn, da, db, jac, pa)

    def test_existing_edges_excluded(self, spark):
        from python_etl_mailing_automation_spark.datapipe.graph import (
            link_prediction,
        )

        # triangle: every pair adjacent -> no candidates
        df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
        assert link_prediction(df, min_common=1).count() == 0


class TestDiffInDiff:
    def test_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            diff_in_diff,
        )

        rows = [
            ("t", "pre", 10), ("t", "pre", 12), ("t", "post", 20),
            ("t", "post", 26), ("c", "pre", 5), ("c", "post", 8),
        ]
        df = spark.createDataFrame(rows, ["g", "p", "v"])
        r = diff_in_diff(
            df, "g", "p", "v",
            treat_val="t", control_val="c", pre_val="pre", post_val="post",
        ).collect()[0]
        assert (r["n_tpre"], r["n_tpost"], r["n_cpre"], r["n_cpost"]) == (
            2, 2, 1, 1,
        )
        assert r["did"] == (23 - 11) - (8 - 5)

    def test_empty_cell_null(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            diff_in_diff,
        )

        df = spark.createDataFrame(
            [("t", "pre", 1), ("c", "pre", 2), ("c", "post", 3)],
            ["g", "p", "v"],
        )
        r = diff_in_diff(
            df, "g", "p", "v",
            treat_val="t", control_val="c", pre_val="pre", post_val="post",
        ).collect()[0]
        assert r["n_tpost"] == 0 and r["did"] is None


class TestEncodingAdvisor:
    def test_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            encoding_advisor,
        )

        rows = [("aa",), ("aa",), ("bbb",), (None,)]
        df = spark.createDataFrame(rows, ["c"])
        r = encoding_advisor(df, ["c"]).collect()[0]
        # raw = 2+2+3 = 7; dict values aa,bbb = 5; ndv=2 -> code_bits =
        # len(bin(1)) = 1; est = 5 + ceil(3*1/8) = 6
        assert (r["n"], r["n_nulls"], r["ndv"]) == (4, 1, 2)
        assert r["raw_bytes"] == 7 and r["dict_value_bytes"] == 5
        assert r["code_bits"] == 1 and r["est_dict_bytes"] == 6
        assert r["dict_ratio"] == 6 / 7 and r["recommend_dict"] == 1

    def test_high_cardinality_not_recommended(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            encoding_advisor,
        )

        df = spark.createDataFrame([(f"val{i:06d}",) for i in range(50)], ["c"])
        r = encoding_advisor(df, ["c"]).collect()[0]
        assert r["ndv"] == 50 and r["recommend_dict"] == 0

    def test_multibyte_utf8_counted_in_bytes(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            encoding_advisor,
        )

        df = spark.createDataFrame([("ä",), ("ä",)], ["c"])
        r = encoding_advisor(df, ["c"]).collect()[0]
        assert r["raw_bytes"] == 4 and r["dict_value_bytes"] == 2


class TestQuantileMatch:
    def test_matches_brute(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            quantile_match,
        )

        s = [1, 1, 3, 5, 5, 5, 9]
        t = [10, 20, 20, 30, 40]
        rows = [("s", v) for v in s] + [("t", v) for v in t]
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {
            r["value"]: (r["rank"], r["target_idx"], r["mapped"])
            for r in quantile_match(df, "g", "v", "s", "t").collect()
        }
        st = sorted(t)
        for v in sorted(set(s)):
            rank = sum(1 for x in s if x < v) + 1
            idx = (rank - 1) * (len(t) - 1) // (len(s) - 1) + 1
            assert got[v] == (rank, idx, st[idx - 1]), v

    def test_extremes_map_to_extremes(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            quantile_match,
        )

        s = list(range(1, 11))
        t = [100, 200, 300]
        rows = [("s", v) for v in s] + [("t", v) for v in t]
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {
            r["value"]: r["mapped"]
            for r in quantile_match(df, "g", "v", "s", "t").collect()
        }
        assert got[1] == 100 and got[10] == 300

    def test_single_source_row_maps_to_min(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            quantile_match,
        )

        df = spark.createDataFrame(
            [("s", 42), ("t", 7), ("t", 9)], ["g", "v"]
        )
        r = quantile_match(df, "g", "v", "s", "t").collect()[0]
        assert r["target_idx"] == 1 and r["mapped"] == 7


class TestTokenWaterfill:
    def _run(self, spark, weights, budget):
        from python_etl_mailing_automation_spark.datapipe.curation import (
            token_waterfill,
        )

        rows = [(f"s{i}", w) for i, w in enumerate(weights)]
        df = spark.createDataFrame(rows, ["source", "w"])
        out = token_waterfill(
            df, group_col="source", weight_col="w", budget=budget
        ).collect()
        return out

    @staticmethod
    def _brute_cap(weights, budget):
        if sum(weights) <= budget:
            return max(weights)
        lo, hi = 0, max(weights)
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sum(min(w, mid) for w in weights) <= budget:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def test_matches_brute_binary_search(self, spark):
        import itertools
        cases = [
            ([10, 20, 100], 60),
            ([10, 20, 100], 100),
            ([10, 20, 100], 200),
            ([10, 20, 100], 6),
            ([10, 20, 100], 0),
            ([5, 5, 5], 12),
            ([7], 3),
            ([3, 3, 3, 1000], 500),
        ]
        for weights, budget in cases:
            out = self._run(spark, weights, budget)
            cap = self._brute_cap(weights, budget)
            got = {r["source"]: r for r in out}
            total = 0
            for i, w in enumerate(weights):
                r = got[f"s{i}"]
                assert r["cap"] == max(cap, 0), (weights, budget, r["cap"], cap)
                assert r["selected"] == min(w, max(cap, 0))
                assert r["cut"] == w - r["selected"]
                total += r["selected"]
            assert total <= budget or sum(weights) <= budget
            assert out[0]["leftover"] == budget - total

    def test_small_sources_keep_everything(self, spark):
        out = self._run(spark, [1, 2, 1000], 103)
        got = {r["source"]: r for r in out}
        assert got["s0"]["selected"] == 1 and got["s1"]["selected"] == 2
        assert got["s2"]["selected"] == 100


class TestMultimodalFrames:
    def test_frame_slicing_and_short_payload(self, spark):
        from python_etl_mailing_automation_spark.datapipe.multimodal import (
            sample_frames,
            with_binary_payload,
        )

        rows = [(1, "x" * 200), (2, "short")]
        df = with_binary_payload(
            spark.createDataFrame(rows, ["doc_id", "text"])
        )
        out = sample_frames(df, every_n_bytes=64, max_frames=4).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # 200 bytes -> 200//64 = 3 frames (64, 64, 64); last full slice
        assert sorted(r["frame_idx"] for r in by_doc[1]) == [0, 1, 2]
        assert [len(bytes(r["frame"])) for r in sorted(
            by_doc[1], key=lambda r: r["frame_idx"]
        )] == [64, 64, 64]
        # short payload -> exactly one (short) frame
        assert len(by_doc[2]) == 1
        assert bytes(by_doc[2][0]["frame"]) == b"short"


class TestEvalCalibration:
    def test_cohens_kappa_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            cohens_kappa,
        )

        pairs = [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"),
                 ("a", "a"), ("b", "a"), ("c", "c"), ("a", "a")]
        df = spark.createDataFrame(pairs, "ra string, rb string")
        row = cohens_kappa(df, "ra", "rb").collect()[0]
        n = len(pairs)
        agree = sum(1 for a, b in pairs if a == b)
        cats = {c for p in pairs for c in p}
        pe_num = sum(
            sum(1 for a, _ in pairs if a == c)
            * sum(1 for _, b in pairs if b == c)
            for c in cats
        )
        assert (row["n_items"], row["n_agree"]) == (n, agree)
        assert row["kappa"] == (n * agree - pe_num) / (n * n - pe_num)

    def test_cohens_kappa_degenerate_and_grouped(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            cohens_kappa,
        )

        # both raters constant: chance agreement is 1, kappa undefined
        df = spark.createDataFrame(
            [("g1", "x", "x")] * 4 + [("g2", "x", "y"), ("g2", "y", "x")],
            "g string, ra string, rb string",
        )
        got = {r["g"]: r for r in cohens_kappa(
            df, "ra", "rb", group_col="g"
        ).collect()}
        assert got["g1"]["kappa"] is None
        # g2: perfect disagreement with symmetric marginals -> kappa -1
        assert got["g2"]["kappa"] == -1.0

    def test_mcnemar_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            mcnemar_test,
        )

        rows = [(1, 1, 1), (1, 1, 0), (1, 1, 0), (1, 0, 1),
                (0, 0, 0), (0, 1, 0), (0, 1, 0), (1, 1, 1)]
        df = spark.createDataFrame(rows, "y long, pa long, pb long")
        r = mcnemar_test(df, "y", "pa", "pb").collect()[0]
        b = sum(1 for y, a, p in rows if (a == y) and (p != y))
        c = sum(1 for y, a, p in rows if (a != y) and (p == y))
        assert (r["n_only_a"], r["n_only_b"]) == (b, c)
        assert r["chi2"] == (b - c) ** 2 / (b + c)
        assert r["chi2_corrected"] == (abs(b - c) - 1) ** 2 / (b + c)

    def test_mcnemar_edges(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            mcnemar_test,
        )

        # no discordant pairs -> NULL statistics
        df = spark.createDataFrame(
            [(1, 1, 1), (0, 0, 0)], "y long, pa long, pb long"
        )
        r = mcnemar_test(df, "y", "pa", "pb").collect()[0]
        assert r["chi2"] is None and r["chi2_corrected"] is None
        # |b-c| = 1 -> corrected statistic is exactly 0
        df2 = spark.createDataFrame(
            [(1, 1, 0), (1, 1, 1)], "y long, pa long, pb long"
        )
        r2 = mcnemar_test(df2, "y", "pa", "pb").collect()[0]
        assert r2["chi2"] == 1.0 and r2["chi2_corrected"] == 0.0

    def test_brier_matches_manual_and_excludes(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            brier_score,
        )

        rows = [(1, 90), (0, 20), (1, 55), (0, 0), (1, 100), (0, 150)]
        df = spark.createDataFrame(rows, "y long, s long")
        r = brier_score(df, "y", "s", score_den=100).collect()[0]
        kept = [(y, s) for y, s in rows if 0 <= s <= 100]
        manual = sum((s - y * 100) ** 2 for y, s in kept) / (
            len(kept) * 100 * 100
        )
        assert r["n"] == len(kept) and r["n_excluded"] == 1
        assert r["brier"] == manual

    def test_calibration_bins_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            calibration_bins,
        )

        rows = [(1, 95), (0, 5), (1, 55), (0, 52), (1, 100), (0, 98)]
        df = spark.createDataFrame(rows, "y long, s long")
        got = {r["bin"]: r for r in calibration_bins(
            df, "y", "s", score_den=100, n_bins=10
        ).collect()}
        # score 100 clamps into the last bin with 95 and 98
        assert set(got) == {0, 5, 9}
        b9 = got[9]
        assert (b9["n"], b9["n_pos"]) == (3, 2)
        assert b9["avg_conf"] == (95 + 98 + 100) / (3 * 100)
        assert b9["frac_pos"] == 2 / 3
        assert b9["gap"] == abs((95 + 98 + 100) / 300 - 2 / 3)

    def test_pass_at_k_matches_comb(self, spark):
        import math

        from python_etl_mailing_automation_spark.datapipe.classify import (
            pass_at_k,
        )

        rows = []
        for t, (n, c) in enumerate([(10, 3), (5, 0), (7, 7), (4, 1),
                                    (2, 1), (3, 0)]):
            rows += [(t, i < c) for i in range(n)]
        df = spark.createDataFrame(rows, "task long, passed boolean")
        got = {r["task"]: r for r in pass_at_k(
            df, "task", "passed", k=3
        ).collect()}
        for t, (n, c) in enumerate([(10, 3), (5, 0), (7, 7), (4, 1),
                                    (2, 1), (3, 0)]):
            assert got[t]["n_samples"] == n and got[t]["n_passed"] == c
            if n < 3:
                assert got[t]["pass_at_k"] is None
            elif n - c < 3:
                assert got[t]["pass_at_k"] == 1.0
            else:
                exact = 1 - math.comb(n - c, 3) / math.comb(n, 3)
                assert got[t]["pass_at_k"] == pytest.approx(
                    exact, abs=1e-15
                )

    def test_pass_at_k_partition_invariant(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            pass_at_k,
        )

        rows = [(i % 37, (i * 13) % 5 == 0) for i in range(500)]
        df = spark.createDataFrame(rows, "task long, passed boolean")
        a = pass_at_k(df.repartition(1), "task", "passed", k=5).collect()
        b = pass_at_k(df.repartition(17), "task", "passed", k=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_conformal_threshold_matches_sorted_index(self, spark):
        import math

        from python_etl_mailing_automation_spark.datapipe.stats import (
            conformal_threshold,
        )

        vals = [5, 1, 9, 3, 3, 7, 2, 8, 6, 4, 4, 10]
        df = spark.createDataFrame([(v,) for v in vals], "s long")
        for num, den in [(1, 10), (1, 4), (3, 4)]:
            r = conformal_threshold(df, "s", alpha=(num, den)).collect()[0]
            n = len(vals)
            k = math.ceil((n + 1) * (den - num) / den)
            assert r["n"] == n and r["k_index"] == k
            expect = sorted(vals)[k - 1] if k <= n else None
            assert r["threshold"] == expect

    def test_conformal_threshold_alpha_too_small_and_grouped(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            conformal_threshold,
        )

        # n=3, alpha=1/10: k = ceil(4*9/10) = 4 > 3 -> NULL threshold
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("a", 3),
             ("b", 10), ("b", 20), ("b", 30), ("b", 40),
             ("b", 50), ("b", 60), ("b", 70), ("b", 80), ("b", 90)],
            "g string, s long",
        )
        got = {r["g"]: r for r in conformal_threshold(
            df, "s", alpha=(1, 10), group_col="g"
        ).collect()}
        assert got["a"]["threshold"] is None and got["a"]["k_index"] == 4
        # b: n=9, k = ceil(10*9/10) = 9 -> the max
        assert got["b"]["k_index"] == 9 and got["b"]["threshold"] == 90


class TestGenerationEval:
    def test_rouge_n_matches_manual(self, spark):
        from collections import Counter

        from python_etl_mailing_automation_spark.datapipe.text import (
            rouge_n,
        )

        rows = [
            (1, "the cat sat on the mat", "the cat lay on the mat"),
            (2, "a b a b a", "a b"),
            (3, "one", "completely different words here"),  # cand < n
            (4, "x", "y"),  # both sides gram-less at n=2
        ]
        df = spark.createDataFrame(rows, "doc_id long, cand string, ref string")
        got = {r["doc_id"]: r for r in rouge_n(
            df, "cand", "ref", id_col="doc_id", n=2
        ).collect()}

        def grams(s, n=2):
            t = s.split()
            return Counter(
                " ".join(t[i:i + n]) for i in range(len(t) - n + 1)
            )

        for i, cand, ref in rows:
            cg, rg = grams(cand), grams(ref)
            ov = sum(min(cg[g], rg[g]) for g in cg)
            nc, nr = sum(cg.values()), sum(rg.values())
            r = got[i]
            assert (r["n_cand"], r["n_ref"], r["n_overlap"]) == (nc, nr, ov)
            p = ov / nc if nc else None
            rr = ov / nr if nr else None
            assert r["precision"] == p and r["recall"] == rr
            if p is None or rr is None:
                assert r["f1"] is None
            elif p + rr == 0:
                assert r["f1"] == 0.0
            else:
                assert r["f1"] == 2.0 * p * rr / (p + rr)

    def test_ngram_novelty_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            ngram_novelty,
        )

        corpus = spark.createDataFrame(
            [(10, "alpha beta gamma delta"), (11, "beta gamma epsilon")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "alpha beta gamma"),      # gram seen in corpus
             (2, "zeta eta theta iota"),   # all novel
             (3, "alpha beta gamma delta epsilon"),  # mixed
             (4, "xy")],                   # gram-less at n=3
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in ngram_novelty(
            new, corpus, n=3
        ).collect()}
        assert (got[1]["n_grams"], got[1]["n_novel"]) == (1, 0)
        assert got[1]["novelty"] == 0.0
        assert (got[2]["n_grams"], got[2]["n_novel"]) == (2, 2)
        assert got[2]["novelty"] == 1.0
        # doc 3 grams: 'alpha beta gamma' and 'beta gamma delta' are both
        # corpus grams (doc 10 contributes both); only
        # 'gamma delta epsilon' is novel
        assert (got[3]["n_grams"], got[3]["n_novel"]) == (3, 1)
        assert got[4]["n_grams"] == 0 and got[4]["novelty"] is None

    def test_distinct_ngram_ratio(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import (
            distinct_ngram_ratio,
        )

        df = spark.createDataFrame(
            [("g1", "a b a b"), ("g1", "a b c"), ("g2", "z")],
            "source string, text string",
        )
        got = {r["source"]: r for r in distinct_ngram_ratio(
            df, n=2
        ).collect()}
        # g1 bigram occurrences: (a b, b a, a b) + (a b, b c) = 5,
        # distinct {a b, b a, b c} = 3
        assert (got["g1"]["n_occurrences"], got["g1"]["n_distinct"]) == (5, 3)
        assert got["g1"]["distinct_ratio"] == 3 / 5
        assert got["g2"]["n_occurrences"] == 0
        assert got["g2"]["distinct_ratio"] is None

    def test_majority_vote_tiebreak_and_agreement(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            majority_vote,
        )

        rows = [(1, "x"), (1, "y"), (1, "x"), (1, None),
                (2, "b"), (2, "a"),            # tie -> smallest answer
                (3, "only")]
        df = spark.createDataFrame(rows, "task long, ans string")
        got = {r["task"]: r for r in majority_vote(
            df, "task", "ans"
        ).collect()}
        assert got[1]["answer"] == "x" and got[1]["n_votes"] == 2
        assert got[1]["n_samples"] == 3 and got[1]["agreement"] == 2 / 3
        assert got[2]["answer"] == "a" and got[2]["agreement"] == 0.5
        assert got[3]["answer"] == "only" and got[3]["agreement"] == 1.0

    def test_winrate_wilson_matches_manual(self, spark):
        import math

        from python_etl_mailing_automation_spark.datapipe.classify import (
            winrate_wilson,
        )

        rows = [("m1", "m2", True)] * 7 + [("m1", "m2", False)] * 3 \
            + [("m2", "m3", True)] * 2
        df = spark.createDataFrame(rows, "a string, b string, win boolean")
        got = {(r["model_a"], r["model_b"]): r for r in winrate_wilson(
            df, "a", "b", "win"
        ).collect()}
        z = 1.96
        for (a, b), (n, w) in {("m1", "m2"): (10, 7),
                               ("m2", "m3"): (2, 2)}.items():
            r = got[(a, b)]
            p = w / n
            denom = 1.0 + z * z / n
            center = p + z * z / (2.0 * n)
            half = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
            assert r["n"] == n and r["wins"] == w and r["winrate"] == p
            assert r["wilson_lo"] == pytest.approx(
                (center - half) / denom, abs=1e-15
            )
            assert r["wilson_hi"] == pytest.approx(
                (center + half) / denom, abs=1e-15
            )
        # a 2/2 record: the interval lower bound is far from 1.0
        assert got[("m2", "m3")]["wilson_lo"] < 0.45

    def test_pr_curve_matches_sklearn_style_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            pr_curve,
        )

        rows = [(1, 9), (0, 9), (1, 7), (1, 5), (0, 5), (0, 3), (1, 1)]
        df = spark.createDataFrame(rows, "y long, s long")
        out = sorted(
            pr_curve(df, "y", "s").collect(),
            key=lambda r: -r["threshold"],
        )
        n_pos = sum(y for y, _ in rows)
        # manual cumulative from the highest distinct score down
        expect = []
        tp = fp = 0
        for thr in sorted({s for _, s in rows}, reverse=True):
            tp += sum(1 for y, s in rows if s == thr and y == 1)
            fp += sum(1 for y, s in rows if s == thr and y == 0)
            expect.append((thr, tp, fp, tp / (tp + fp), tp / n_pos))
        got = [
            (r["threshold"], r["tp"], r["fp"], r["precision"], r["recall"])
            for r in out
        ]
        assert got == expect

    def test_pr_curve_grouped_matches_ungrouped(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            pr_curve,
        )

        rows = [(i % 2, (i * 7) % 23, "g") for i in range(200)]
        df = spark.createDataFrame(rows, "y long, s long, g string")
        a = sorted(
            (r["threshold"], r["tp"], r["fp"], r["precision"], r["recall"])
            for r in pr_curve(df, "y", "s", group_col="g").collect()
        )
        b = sorted(
            (r["threshold"], r["tp"], r["fp"], r["precision"], r["recall"])
            for r in pr_curve(df.drop("g"), "y", "s").collect()
        )
        assert a == b


class TestGovernanceBatch:
    def test_readability_matches_manual(self, spark):
        import re

        from python_etl_mailing_automation_spark.datapipe.text import (
            readability,
        )

        rows = [
            (1, "The cat sat. The dog ran! Did it rain?"),
            (2, "Incomprehensibility characterizes bureaucratic "
                "observations"),
            (3, "hmm brr"),  # zero-vowel words floor at 1 syllable each
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in readability(df).collect()}
        for i, text in rows:
            words = text.split()
            w = len(words)
            s = max(1, len(re.findall(r"[.!?]+", text)))
            syl = sum(
                max(1, len(re.findall(r"[aeiouy]+", x.lower())))
                for x in words
            )
            r = got[i]
            assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
                w, s, syl
            )
            assert r["flesch_ease"] == 206.835 - 1.015 * (w / s) - 84.6 * (
                syl / w
            )
            assert r["fk_grade"] == 0.39 * (w / s) + 11.8 * (syl / w) - 15.59

    def test_seasonal_profile_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.timeseries import (
            seasonal_profile,
        )

        rows = [("k", 0, 10), ("k", 0, 20), ("k", 1, 40),
                ("k", 2, 5), ("k", 2, 15), ("k", 2, 10)]
        df = spark.createDataFrame(rows, "k string, phase long, v long")
        got = {r["phase"]: r for r in seasonal_profile(
            df, "phase", "v", key_col="k"
        ).collect()}
        overall = 100 / 6
        assert got[0]["mean_value"] == 15.0
        assert got[1]["mean_value"] == 40.0
        assert got[2]["mean_value"] == 10.0
        for p in (0, 1, 2):
            assert got[p]["overall_mean"] == overall
            assert got[p]["seasonal_dev"] == got[p]["mean_value"] - overall

    def test_tv_distance_matches_manual_and_disjoint(self, spark):
        from python_etl_mailing_automation_spark.datapipe.stats import (
            tv_distance,
        )

        rows = [("a", "x")] * 3 + [("a", "y")] * 1 \
            + [("b", "x")] * 1 + [("b", "y")] * 3
        df = spark.createDataFrame(rows, "g string, c string")
        r = tv_distance(df, "g", "c", "a", "b").collect()[0]
        # p_a = (3/4, 1/4), p_b = (1/4, 3/4): TVD = 1/2 * (1/2 + 1/2)
        assert (r["n_a"], r["n_b"], r["n_categories"]) == (4, 4, 2)
        assert r["tv_distance"] == 0.5
        # disjoint supports -> TVD exactly 1
        df2 = spark.createDataFrame(
            [("a", "x"), ("a", "x"), ("b", "z")], "g string, c string"
        )
        assert tv_distance(df2, "g", "c", "a", "b").collect()[0][
            "tv_distance"
        ] == 1.0
        # identical distributions -> 0
        df3 = spark.createDataFrame(
            [("a", "x"), ("b", "x")], "g string, c string"
        )
        assert tv_distance(df3, "g", "c", "a", "b").collect()[0][
            "tv_distance"
        ] == 0.0

    def test_domain_suffix_filter_longest_match(self, spark):
        from python_etl_mailing_automation_spark.datapipe.web import (
            domain_suffix_filter,
        )

        docs = spark.createDataFrame(
            [
                (1, "https://a.b.tracker.example.com/x"),
                (2, "http://www.example.com/y"),
                (3, "https://safe.org/z"),
                (4, "https://notexample.com/q"),  # no dot-boundary match
                (5, "https://ads.example.com/r"),
            ],
            "doc_id long, url string",
        )
        bl = spark.createDataFrame(
            [("example.com",), ("ads.example.com",), ("evil.net",)],
            "suffix string",
        )
        got = {r["doc_id"]: r for r in domain_suffix_filter(
            docs, bl
        ).collect()}
        assert got[1]["blocked"] and got[1]["matched_suffix"] == "example.com"
        assert got[2]["blocked"] and got[2]["host"] == "example.com"
        assert not got[3]["blocked"] and got[3]["matched_suffix"] is None
        # 'notexample.com' must NOT match the 'example.com' entry
        assert not got[4]["blocked"]
        # most specific entry wins
        assert got[5]["matched_suffix"] == "ads.example.com"


class TestAnnotationReliability:
    def test_krippendorff_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            krippendorff_alpha,
        )

        # Krippendorff's own worked example (nominal, missing data):
        # 4 raters, 12 items, some items rated by a subset.
        ratings = [
            # (item, rater, label)
            (1, "A", "1"), (1, "B", "1"), (1, "D", "1"),
            (2, "A", "2"), (2, "B", "2"), (2, "D", "2"),
            (3, "A", "3"), (3, "B", "3"), (3, "C", "3"), (3, "D", "3"),
            (4, "A", "3"), (4, "B", "3"), (4, "C", "3"), (4, "D", "3"),
            (5, "A", "2"), (5, "B", "2"), (5, "C", "2"), (5, "D", "2"),
            (6, "A", "1"), (6, "B", "2"), (6, "C", "3"), (6, "D", "4"),
            (7, "A", "4"), (7, "B", "4"), (7, "C", "4"), (7, "D", "4"),
            (8, "A", "1"), (8, "B", "1"), (8, "C", "2"), (8, "D", "1"),
            (9, "A", "2"), (9, "B", "2"), (9, "C", "2"), (9, "D", "2"),
            (10, "B", "5"), (10, "C", "5"), (10, "D", "5"),
            (11, "C", "1"), (11, "D", "1"),
            (12, "C", "3"),  # single rating: excluded (n_u < 2)
        ]
        df = spark.createDataFrame(ratings, "item long, rater string, lab string")
        row = krippendorff_alpha(df, "item", "rater", "lab").collect()[0]

        # brute-force reference
        from collections import Counter, defaultdict
        per_item = defaultdict(Counter)
        for it, _, c in ratings:
            per_item[it][c] += 1
        per_item = {u: cc for u, cc in per_item.items() if sum(cc.values()) >= 2}
        n = sum(sum(cc.values()) for cc in per_item.values())
        do = sum(
            (sum(cc.values()) ** 2 - sum(v * v for v in cc.values()))
            / (sum(cc.values()) - 1)
            for cc in per_item.values()
        )
        nc = Counter()
        for cc in per_item.values():
            nc.update(cc)
        de = n * n - sum(v * v for v in nc.values())
        expect = 1 - (n - 1) * do / de
        assert row["n_items"] == len(per_item)
        assert row["n_ratings"] == n
        assert row["n_categories"] == len(nc)
        assert row["alpha"] is not None
        assert abs(row["alpha"] - expect) < 1e-12

    def test_krippendorff_perfect_and_degenerate(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            krippendorff_alpha,
        )

        # perfect agreement -> alpha == 1.0 exactly
        rows = [(i, r, "x" if i % 2 else "y")
                for i in range(1, 7) for r in ("A", "B", "C")]
        df = spark.createDataFrame(rows, "item long, rater string, lab string")
        r = krippendorff_alpha(df, "item", "rater", "lab").collect()[0]
        assert r["alpha"] == 1.0

        # single category everywhere: expected disagreement 0 -> NULL
        rows = [(i, r, "only") for i in range(1, 5) for r in ("A", "B")]
        df = spark.createDataFrame(rows, "item long, rater string, lab string")
        r = krippendorff_alpha(df, "item", "rater", "lab").collect()[0]
        assert r["alpha"] is None
        assert r["n_categories"] == 1

        # empty ratings slice: counts coalesce to 0, alpha NULL
        r = krippendorff_alpha(
            df.filter("item < 0"), "item", "rater", "lab"
        ).collect()[0]
        assert (r["n_items"], r["n_ratings"], r["n_categories"]) == (0, 0, 0)
        assert r["alpha"] is None

    def test_krippendorff_exactness_guard_nulls_alpha_beyond_2_53(
        self, spark
    ):
        """The PROD(v-1) clearing is only integer-exact while P < 2^53;
        beyond that the runtime guard must return NULL alpha instead of
        a silently-inexact value (round-10 advisory fix). A panel with
        many distinct rating counts drives P = PROD(v-1) over
        v in {2..21} past 2^53 (20! ~ 2.4e18)."""
        from python_etl_mailing_automation_spark.datapipe.classify import (
            krippendorff_alpha,
        )

        rows = []
        item = 0
        # one item per rating count v = 2..21, alternating labels so
        # disagreement (and thus a non-degenerate denominator) exists
        for v in range(2, 22):
            item += 1
            for j in range(v):
                rows.append((item, f"R{j}", "x" if j % 2 else "y"))
        df = spark.createDataFrame(
            rows, "item long, rater string, lab string"
        )
        r = krippendorff_alpha(df, "item", "rater", "lab").collect()[0]
        assert r["n_items"] == 20
        assert r["alpha"] is None  # guard fired, not a wrong number

    def test_confident_joint_flags_planted_noise(self, spark):
        from python_etl_mailing_automation_spark.datapipe.classify import (
            confident_joint,
        )

        # class "hi" scores ~100, class "lo" scores ~10; plant two
        # mislabeled rows: "lo"-labeled with hi-class scores.
        rows = (
            [("hi", 100.0), ("hi", 110.0), ("hi", 90.0)]
            + [("lo", 10.0), ("lo", 12.0), ("lo", 8.0)]
            + [("lo", 105.0), ("lo", 120.0)]  # planted label errors
        )
        df = spark.createDataFrame(rows, "lab string, s double")
        got = {
            (r["given_label"], r["suggested_label"]): r["n_examples"]
            for r in confident_joint(df, "lab", "s").collect()
        }
        # thresholds: t_hi = mean(100,110,90) = 100;
        #             t_lo = mean(10,12,8,105,120) = 51.
        # the planted rows clear BOTH thresholds; "hi" has the higher
        # one, so they land in ("lo", "hi")
        assert got[("lo", "hi")] == 2
        # honest hi rows 100, 110 clear t_hi and stay diagonal; the
        # 90-score row clears only t_lo -> flagged ("hi", "lo") — the
        # CL semantics: per-class thresholds, not nearest-mean
        assert got[("hi", "hi")] == 2
        assert got[("hi", "lo")] == 1
        # honest "lo" rows (8, 10, 12) clear no threshold (t_lo is
        # inflated by the planted highs) -> diagonal via no-clear rule
        assert got[("lo", "lo")] == 3
        assert sum(got.values()) == len(rows)

    def test_leakage_safe_split_keeps_clusters_together(self, spark):
        from python_etl_mailing_automation_spark.datapipe.sampling import (
            dataset_split,
            leakage_safe_split,
        )

        docs = spark.range(0, 400).select(F.col("id").alias("doc_id"))
        # clusters: pair up 0..99 with 200..299 (rep = min member)
        clus = spark.createDataFrame(
            [(i, i) for i in range(100)] + [(i + 200, i) for i in range(100)],
            "doc_id long, cluster_id long",
        )
        out = leakage_safe_split(docs, clus)
        rows = {r["doc_id"]: r["split"] for r in out.collect()}
        assert len(rows) == 400
        # every cluster is split-pure
        for i in range(100):
            assert rows[i] == rows[i + 200], i
        # singletons agree with the per-doc splitter (same key, salt)
        solo = dataset_split(docs.filter(F.col("doc_id") >= 300))
        for r in solo.collect():
            assert rows[r["doc_id"]] == r["split"]
        # NULL id stays NULL split
        nulls = spark.createDataFrame([(None,)], "doc_id long")
        assert leakage_safe_split(
            nulls, clus
        ).collect()[0]["split"] is None


class TestFrequentSubsequences:
    def test_matches_bruteforce(self, spark):
        from itertools import product as iproduct

        from python_etl_mailing_automation_spark.operators.funnel import (
            frequent_subsequences,
        )

        seqs = {
            1: list("vvcp"),
            2: list("vcvp"),
            3: list("pcv"),
            4: list("vvv"),
            5: list("cp"),
        }
        rows = [
            (k, i, it)
            for k, s in seqs.items()
            for i, it in enumerate(s)
        ]
        df = spark.createDataFrame(rows, "user_id long, event_id long, it string")
        got = {
            (r["pattern"], r["length"]): r["support"]
            for r in frequent_subsequences(
                df,
                key_col="user_id",
                item_col="it",
                order_cols=["event_id"],
                min_support=1,
            ).collect()
        }

        def contains(seq, pat):
            it = iter(seq)
            return all(ch in it for ch in pat)

        alpha = sorted({c for s in seqs.values() for c in s})
        for ln in (1, 2, 3):
            for pat in iproduct(alpha, repeat=ln):
                sup = sum(1 for s in seqs.values() if contains(s, pat))
                key = (">".join(pat), ln)
                if sup >= 1:
                    assert got.get(key) == sup, (key, sup, got.get(key))
                else:
                    assert key not in got

    def test_min_support_and_repeats(self, spark):
        from python_etl_mailing_automation_spark.operators.funnel import (
            frequent_subsequences,
        )

        # a>a>a needs three occurrences
        rows = [(1, 0, "a"), (1, 1, "a"), (1, 2, "a"), (2, 0, "a"), (2, 1, "a")]
        df = spark.createDataFrame(rows, "user_id long, event_id long, it string")
        got = {
            (r["pattern"], r["length"]): r["support"]
            for r in frequent_subsequences(
                df, key_col="user_id", item_col="it",
                order_cols=["event_id"], min_support=1,
            ).collect()
        }
        assert got[("a", 1)] == 2
        assert got[("a>a", 2)] == 2
        assert got[("a>a>a", 3)] == 1
        # min_support filters
        flt = frequent_subsequences(
            df, key_col="user_id", item_col="it",
            order_cols=["event_id"], min_support=2,
        ).collect()
        assert {(r["pattern"]) for r in flt} == {"a", "a>a"}


class TestRboKfold:
    def test_rbo_matches_bruteforce(self, spark):
        from python_etl_mailing_automation_spark.datapipe.text import rbo_min

        # two top-5 rankings per group, partial overlap
        A = {"g1": ["a", "b", "c", "d", "e"], "g2": ["x", "y"]}
        B = {"g1": ["b", "a", "c", "f", "g"], "g2": ["z", "w"]}
        ra = spark.createDataFrame(
            [(g, it, r + 1) for g, items in A.items()
             for r, it in enumerate(items)],
            "g string, item string, rank long",
        )
        rb = spark.createDataFrame(
            [(g, it, r + 1) for g, items in B.items()
             for r, it in enumerate(items)],
            "g string, item string, rank long",
        )
        got = {
            r["g"]: r
            for r in rbo_min(ra, rb, group_col="g", id_col="item").collect()
        }

        def brute(la, lb, p=0.9, depth=10):
            s = 0.0
            for d in range(1, depth + 1):
                x = len(set(la[:d]) & set(lb[:d]))
                s += (x / d) * (1 - p) * p ** (d - 1)
            return s

        for g in A:
            exp = brute(A[g], B[g])
            assert abs(got[g]["rbo_min"] - exp) < 1e-12, g
        assert got["g1"]["n_common"] == 3  # a, b, c shared within depth
        assert got["g2"]["n_common"] == 0
        assert got["g2"]["rbo_min"] == 0.0
        # identical rankings -> per-group RBO_min equals the self-brute
        # value (= the full weight sum only when the list fills the
        # depth of 10; the 5- and 2-item lists cap X_d below it)
        full = spark.createDataFrame(
            [("g3", it, r + 1) for r, it in enumerate("abcdefghijk")],
            "g string, item string, rank long",
        )
        same = {
            r["g"]: r["rbo_min"]
            for r in rbo_min(
                ra.unionByName(full), ra.unionByName(full), group_col="g", id_col="item"
            ).collect()
        }
        for g in A:
            assert abs(same[g] - brute(A[g], A[g])) < 1e-12, g
        w_sum = sum((1 - 0.9) * 0.9 ** (d - 1) for d in range(1, 11))
        assert abs(same["g3"] - w_sum) < 1e-12

    def test_kfold_exact_balance_and_determinism(self, spark):
        from python_etl_mailing_automation_spark.datapipe.sampling import (
            kfold_assign,
        )

        rows = [(i, "s%d" % (i % 3)) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, strat string")
        out = kfold_assign(df, 4, stratify_col="strat").collect()
        by = {}
        for r in out:
            by.setdefault((r["strat"], r["fold"]), 0)
            by[(r["strat"], r["fold"])] += 1
        # exact balance: per stratum, fold sizes differ by <= 1
        for s in ("s0", "s1", "s2"):
            sizes = [by.get((s, f), 0) for f in range(4)]
            assert max(sizes) - min(sizes) <= 1, (s, sizes)
        assert sum(by.values()) == 100
        # deterministic across reruns
        again = {
            r["doc_id"]: r["fold"]
            for r in kfold_assign(df, 4, stratify_col="strat").collect()
        }
        for r in out:
            assert again[r["doc_id"]] == r["fold"]
        # k < 2 rejected
        import pytest as _pytest
        with _pytest.raises(ValueError):
            kfold_assign(df, 1)

    def test_kfold_null_ids_do_not_shift_valid_folds(self, spark):
        """NULL-id rows are excluded from the rank window, so the same
        frame with and without them yields identical folds for every
        valid row (the round-10 advisory fix); NULL ids still get a
        NULL fold."""
        from python_etl_mailing_automation_spark.datapipe.sampling import (
            kfold_assign,
        )

        rows = [(i, "s%d" % (i % 2)) for i in range(40)]
        clean = spark.createDataFrame(rows, "doc_id long, strat string")
        noisy = clean.unionByName(
            spark.createDataFrame(
                [(None, "s0"), (None, "s1"), (None, "s0")],
                "doc_id long, strat string",
            )
        )
        base = {
            r["doc_id"]: r["fold"]
            for r in kfold_assign(clean, 4, stratify_col="strat").collect()
        }
        got = kfold_assign(noisy, 4, stratify_col="strat").collect()
        for r in got:
            if r["doc_id"] is None:
                assert r["fold"] is None
            else:
                assert r["fold"] == base[r["doc_id"]], r["doc_id"]


class TestProvenanceRollup:
    def test_rollup_matches_manual(self, spark):
        from python_etl_mailing_automation_spark.datapipe.dedup import (
            provenance_rollup,
        )

        docs = spark.createDataFrame(
            [
                (1, "web", 100), (2, "web", 110), (3, "books", 90),
                (4, None, 50), (5, "web", 70), (6, "wiki", 60),
            ],
            "doc_id long, source string, n_chars long",
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
            "doc_id long, cluster_id long",
        )
        got = {
            r["cluster_id"]: r
            for r in provenance_rollup(docs, clusters).collect()
        }
        c1 = got[1]
        assert (c1["n_members"], c1["min_doc_id"], c1["max_doc_id"]) == (3, 1, 3)
        assert c1["n_sources"] == 2 and c1["sources"] == "books,web"
        assert c1["total_chars"] == 300
        c4 = got[4]
        # NULL source drops from the roster but the member still counts
        assert (c4["n_members"], c4["n_sources"], c4["sources"]) == (2, 1, "web")
        assert c4["total_chars"] == 120
        # doc 6 is unclustered: absent
        assert set(got) == {1, 4}

    def test_rollup_without_size_col(self, spark):
        from python_etl_mailing_automation_spark.datapipe.dedup import (
            provenance_rollup,
        )

        docs = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, source string"
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1)], "doc_id long, cluster_id long"
        )
        row = provenance_rollup(docs, clusters, size_col=None).collect()[0]
        assert row["sources"] == "a,b"
        assert "total_chars" not in row.asDict()


class TestQuantileSketch:
    def _exact_rank(self, values, v):
        return sum(1 for x in values if x <= v)

    def test_sketch_rank_contract_and_determinism(self, spark):
        """Every probe's estimate has rank error < n/n_bands; the
        sketch is a pure function of the histogram (same rows on
        reshuffled input); per key at most n_bands rows."""
        import random

        from python_etl_mailing_automation_spark.datapipe.sketches import (
            quantile_sketch,
            quantile_sketch_query,
        )

        rng = random.Random(7)
        data = [("a", rng.randint(0, 10_000)) for _ in range(3000)]
        data += [("b", int(rng.gauss(500, 50))) for _ in range(800)]
        data += [("b", 500)] * 400  # heavy value spanning bands
        df = spark.createDataFrame(data, "k string, v long")
        bands = 32
        sk = quantile_sketch(df, "v", key_cols=["k"], n_bands=bands)
        rows = sk.collect()
        per_key = {}
        for r in rows:
            per_key.setdefault(r["k"], []).append(r)
        vals = {}
        for k, v in data:
            vals.setdefault(k, []).append(v)
        for k, krows in per_key.items():
            assert len(krows) <= bands, k
            n = len(vals[k])
            assert all(r["n_rows"] == n for r in krows)
            # cum_cnt is the exact rank of the value's last occurrence
            for r in krows:
                assert r["cum_cnt"] == self._exact_rank(vals[k], r["value"])
        probs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
        est = quantile_sketch_query(sk, probs, key_cols=["k"]).collect()
        assert len(est) == 2 * len(probs)
        for r in est:
            n = len(vals[r["k"]])
            target = -(-r["p"] * n // 1)  # ceil
            # epsilon-approximate property: the estimate's true rank
            # interval (lo, hi] covers the target rank or begins within
            # n/bands above it (a heavy value spanning the target is
            # exactly right even when hi - target is large)
            lo = self._exact_rank(vals[r["k"]], r["est"] - 1)
            hi = self._exact_rank(vals[r["k"]], r["est"])
            assert hi >= target, (r["k"], r["p"])
            assert lo < target + n / bands, (r["k"], r["p"])
        # determinism under reshuffle
        again = set(
            map(
                tuple,
                quantile_sketch(
                    df.repartition(13), "v", key_cols=["k"], n_bands=bands
                ).collect(),
            )
        )
        assert again == set(map(tuple, rows))

    def test_sketch_merge_error_adds(self, spark):
        """Merging two sketches keeps every probe within the summed
        rank-error budget against the exact ranks of the union."""
        import random

        from python_etl_mailing_automation_spark.datapipe.sketches import (
            quantile_sketch,
            quantile_sketch_merge,
            quantile_sketch_query,
        )

        rng = random.Random(11)
        xs = [rng.randint(0, 5000) for _ in range(2000)]
        ys = [rng.randint(2000, 9000) for _ in range(1500)]
        bands = 32
        dfx = spark.createDataFrame([(v,) for v in xs], "v long")
        dfy = spark.createDataFrame([(v,) for v in ys], "v long")
        merged = quantile_sketch_merge(
            quantile_sketch(dfx, "v", n_bands=bands),
            quantile_sketch(dfy, "v", n_bands=bands),
            n_bands=bands,
        )
        allv = sorted(xs + ys)
        n = len(allv)
        budget = len(xs) / bands + len(ys) / bands + n / bands
        for r in quantile_sketch_query(merged, [0.1, 0.5, 0.9]).collect():
            assert r["n_rows"] == n
            target = -(-r["p"] * n // 1)
            rank_hi = sum(1 for x in allv if x <= r["est"])
            rank_lo = sum(1 for x in allv if x < r["est"])
            assert rank_lo < target + budget
            assert rank_hi > target - budget

    def test_sketch_ungrouped_uses_prefix_not_global_window(self, spark):
        """The ungrouped sketch routes its cumulative through the
        bucketed prefix machinery — no data-sized unpartitioned window
        in the plan (checked by test_plans' real detector; the original
        regex here could never match Spark's Window rendering and was
        vacuous) — and still honors the rank contract."""
        from test_plans import _unpartitioned_window_violations

        from python_etl_mailing_automation_spark.datapipe.sketches import (
            quantile_sketch,
        )

        df = spark.createDataFrame(
            [(i * 37 % 1000,) for i in range(2000)], "v long"
        )
        sk = quantile_sketch(df, "v", n_bands=16)
        plan = sk._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        bad = _unpartitioned_window_violations(plan)
        assert not bad, bad
        # the detector itself is live on this plan shape: a global
        # cumulative window directly over the data-sized scan MUST flag
        from pyspark.sql import Window

        w = (
            Window.orderBy(F.col("v").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        naive = df.withColumn("cum", F.sum("v").over(w))
        naive_plan = naive._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert _unpartitioned_window_violations(naive_plan), naive_plan
        rows = sk.collect()
        assert 0 < len(rows) <= 16
        assert all(r["n_rows"] == 2000 for r in rows)

    def test_sketch_rejects_bad_args(self, spark):
        from python_etl_mailing_automation_spark.datapipe.sketches import (
            quantile_sketch,
            quantile_sketch_merge,
            quantile_sketch_query,
        )

        df = spark.createDataFrame([(1,)], "v long")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            quantile_sketch(df, "v", n_bands=1)
        with _pytest.raises(ValueError):
            quantile_sketch_query(quantile_sketch(df, "v"), [])
        with _pytest.raises(ValueError):
            quantile_sketch_query(quantile_sketch(df, "v"), [1.5])
        with _pytest.raises(ValueError):
            sk = quantile_sketch(df, "v")
            quantile_sketch_merge(sk, sk, n_bands=0)

    def test_sketch_rejects_boundaries_with_key_cols(self, spark):
        """A keyed sketch runs per-key windows, not the ungrouped range
        scan, so shared boundaries would be silently ignored."""
        import pytest as _pytest

        from python_etl_mailing_automation_spark.datapipe.sketches import quantile_sketch

        df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v long")
        with _pytest.raises(ValueError, match="key_cols"):
            quantile_sketch(df, "v", key_cols=["k"], boundaries=[1])
        # Without keys the same boundaries are used, and the sketch is exact.
        sk = quantile_sketch(df, "v", n_bands=2, boundaries=[1])
        assert sorted((r["value"], r["cum_cnt"]) for r in sk.collect()) == [(1, 1), (2, 2)]

    def test_sketch_nan_is_missing_like_the_streaming_twin(self, spark):
        """NaN in a double column is missing data, as NULL is: excluded
        from n_rows and never returned as a value (Spark alone would sort
        NaN LAST and hand it every high-p probe)."""
        import math

        from python_etl_mailing_automation_spark.datapipe.sketches import (
            quantile_sketch,
            quantile_sketch_query,
        )

        data = [(float(v),) for v in range(100)] + [(float("nan"),)] * 20
        df = spark.createDataFrame(data, "v double")
        sk = quantile_sketch(df, "v", n_bands=8)
        rows = sk.collect()
        assert all(r["n_rows"] == 100 for r in rows)
        assert not any(math.isnan(r["value"]) for r in rows)
        est = quantile_sketch_query(sk, [0.99]).collect()[0]["est"]
        assert not math.isnan(est)


class TestDedupMassAudit:
    def test_conservation_and_per_source_detail(self, spark):
        from python_etl_mailing_automation_spark.datapipe.dedup import (
            dedup_mass_audit,
        )

        docs = spark.createDataFrame(
            [
                (1, "web", 100), (2, "web", 110), (3, "books", 90),
                (4, None, 50), (5, "web", 70), (6, "wiki", 60),
            ],
            "doc_id long, source string, n_chars long",
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
            "doc_id long, cluster_id long",
        )
        got = {
            r["source"]: r for r in dedup_mass_audit(docs, clusters).collect()
        }
        alln = got["__ALL__"]
        assert alln["conserved"] == 1
        assert alln["docs_in"] == 6 and alln["chars_in"] == 480
        # reps: doc 1 (cluster 1), doc 4 (cluster 4); absorbed: 2,3,5
        assert alln["docs_kept"] == 3 and alln["docs_absorbed"] == 3
        assert alln["chars_absorbed"] == 110 + 90 + 70
        web = got["web"]
        assert (web["docs_in"], web["docs_kept"], web["docs_absorbed"]) == (
            3, 1, 2,
        )
        assert web["chars_absorbed"] == 110 + 70
        # NULL source rides as "" with its representative doc
        assert got[""]["docs_kept"] == 1 and got[""]["docs_absorbed"] == 0
        assert got["books"]["docs_absorbed"] == 1
        assert got["wiki"]["docs_kept"] == 1

    def test_double_assignment_breaks_conservation(self, spark):
        """A doc id claimed by two clusters duplicates rows through the
        member join — the __ALL__ row must flag it instead of silently
        inflating the corpus."""
        from python_etl_mailing_automation_spark.datapipe.dedup import (
            dedup_mass_audit,
        )

        docs = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "doc_id long, source string, n_chars long",
        )
        bad = spark.createDataFrame(
            [(1, 1), (2, 1), (2, 3), (3, 3)],  # doc 2 in two clusters
            "doc_id long, cluster_id long",
        )
        alln = {
            r["source"]: r for r in dedup_mass_audit(docs, bad).collect()
        }["__ALL__"]
        assert alln["conserved"] == 0

    def test_no_clusters_all_kept(self, spark):
        from python_etl_mailing_automation_spark.datapipe.dedup import (
            dedup_mass_audit,
        )

        docs = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)],
            "doc_id long, source string, n_chars long",
        )
        empty = spark.createDataFrame([], "doc_id long, cluster_id long")
        alln = {
            r["source"]: r for r in dedup_mass_audit(docs, empty).collect()
        }["__ALL__"]
        assert alln["conserved"] == 1
        assert alln["docs_kept"] == 2 and alln["docs_absorbed"] == 0
