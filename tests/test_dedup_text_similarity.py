"""Unit tests for dedup / text / similarity operators (spec extensions)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from panditya_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_pairs,
)
from panditya_spark.operators.similarity import brute_force_topk, cosine
from panditya_spark.operators.text import fingerprint, lang_id, token_count, words
from tests.conftest import rows


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, "completely different text here body")],
        ["doc_id", "text"],
    )


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["t"])
    out = sorted(map(list, (r[0] for r in rows(df.select(shingles(F.col("t"), 3).alias("s"))))))
    assert out == [[], ["a b c", "b c d"]]


def test_exact_and_fingerprint_dedup(spark, docs):
    ex = {r[1]: r[2] for r in rows(exact_dedup(docs, "text", "doc_id"))}
    assert ex == {1: 2, 3: 1, 4: 1}  # keeper_id -> n_copies
    # fingerprint collapses case/whitespace variants
    df = spark.createDataFrame([(1, "Hello  World"), (2, "hello world")], ["doc_id", "text"])
    fp = rows(fingerprint_dedup(df, "text", "doc_id"))
    assert len(fp) == 1 and fp[0][2] == 2


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r[0], r[1]): r[2] for r in rows(ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5))}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near-dup
    assert not any(4 in p for p in pairs)  # unrelated doc


def test_minhash_candidates_cover_true_pairs(spark):
    # 30-word docs differing in the last word only: j = 27/29 ≈ 0.93,
    # so P(≥1 of 8 band collisions) ≈ 0.9999 — and the minhash seed is
    # fixed, making the outcome fully deterministic.
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"w{i}" for i in range(29)) + " zz"
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b), (4, "unrelated short thing entirely")],
        ["doc_id", "text"],
    )
    cands = set((r[0], r[1]) for r in rows(minhash_lsh_candidates(df, "text", "doc_id")))
    assert (1, 2) in cands  # identical docs collide in every band
    assert (1, 3) in cands  # near-dup collides in ≥1 band
    assert (1, 4) not in cands and (2, 4) not in cands


def test_simhash_near_pairs(spark, docs):
    out = {(r[0], r[1]): r[2] for r in rows(simhash_near_pairs(docs, "text", "doc_id", max_hamming=8))}
    assert out[(1, 2)] == 0  # identical → distance 0
    assert (1, 3) in out and out[(1, 3)] <= 8


def test_text_functions(spark):
    df = spark.createDataFrame([("Hello, world! 123 test",)], ["t"])
    r = df.select(
        F.size(words(F.col("t"))).alias("w"),
        token_count(F.col("t")).alias("tok"),
        fingerprint(F.col("t")).alias("fp"),
    ).first()
    assert r.w == 4
    # tokens: Hello , world ! 123 test = 6
    assert r.tok == 6
    assert len(r.fp) == 32  # md5 hex


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog sat in the house",),
         ("der Hund und die Katze gingen durch den schönen Wald",),
         ("les enfants mangent leur dîner dans le jardin",),
         ("los niños están jugando en el parque que está cerca",),
         ("今天天气很好我们去公园散步",),
         ("zzz qqq xxx",)],
        ["t"],
    )
    out = [r[0] for r in df.select(lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "de", "fr", "es", "zh", "und"]


def test_cosine_and_topk(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], ["id", "v"]
    )
    sim = emb.select(cosine(F.col("v"), F.array(F.lit(1.0), F.lit(0.0))).alias("s"), "id")
    out = dict(rows(sim, "id", "s"))
    assert out[1] == 1.0 and out[2] == 0.0 and abs(out[3] - 1 / math.sqrt(2)) < 1e-9
    q = emb.select(F.col("id").alias("qid"), F.col("v").alias("qvec")).filter("qid = 1")
    c = emb.select(F.col("id").alias("cid"), F.col("v").alias("cvec"))
    top = rows(brute_force_topk(q, c, k=1), "qid", "neighbor_id", "rank")
    assert top == [(1, 3, 1)]  # nearest non-self neighbor


def test_lsh_topk_recall(spark):
    """LSH ANN at the registered multiprobe radius (3) must recover
    nearly all of the exact top-10 even on the synthetic embeddings,
    whose neighbors sit at cosine 0.3-0.5 — far below the
    near-duplicate regime (measured 1.00 at sf0.01; the exact re-rank
    guarantees precision of what IS returned)."""
    from panditya_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    bf = {(r.qid, r.neighbor_id) for r in QUERIES["ann_cosine_topk"](spark, sf).collect()}
    lsh = {(r.qid, r.neighbor_id) for r in QUERIES["ann_lsh_topk"](spark, sf).collect()}
    assert len(bf & lsh) / len(bf) >= 0.9


def test_ivf_topk_recall_and_determinism(spark):
    """IVF ANN: recall@10 vs brute force on the synthetic embeddings,
    and run-to-run determinism (hash-sampled centroids, no RNG)."""
    from panditya_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    bf = {(r.qid, r.neighbor_id) for r in QUERIES["ann_cosine_topk"](spark, sf).collect()}
    r1 = QUERIES["ann_ivf_topk"](spark, sf).collect()
    ivf = {(r.qid, r.neighbor_id) for r in r1}
    assert len(bf & ivf) / len(bf) >= 0.4
    r2 = QUERIES["ann_ivf_topk"](spark, sf).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))


def test_ivf_full_probe_degrades_to_exact(spark):
    """Partition-integrity identity (the ann_ivf_full_probe driver
    row's contract): with nprobe = nlist every inverted list is
    probed, so IVF must return EXACTLY the brute-force top-k — any
    vector lost or duplicated across the list assignment, the
    materialization boundary, or the probe join breaks equality."""
    from panditya_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
         for i in range(60)],
        ["id", "v"],
    )
    q = emb.filter("id < 4").select(
        F.col("id").alias("qid"), F.col("v").alias("qvec")
    )
    c = emb.select(F.col("id").alias("cid"), F.col("v").alias("cvec"))
    bf = sorted(map(tuple, brute_force_topk(q, c, k=5).collect()))
    full = sorted(
        map(tuple, ivf_topk(q, c, k=5, nlist=8, nprobe=8).collect())
    )
    assert full == bf


def test_minhash_threshold_one_is_exact_identical_sets(spark):
    """At threshold=1.0 the MinHash-LSH output is engine-exact (the
    dedup_minhash_clones driver row's argument): Jaccard-1 pairs have
    identical signatures so the candidate stage can never miss them,
    and the exact verify keeps precisely the identical-shingle-set
    pairs — planted clones surface, near-but-not-identical docs do
    not."""
    from panditya_spark.operators.dedup import minhash_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical clone -> must pair with 1
            (3, base + " extra trailing words here"),  # near, not identical
            (4, "completely different text with other tokens inside it"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r.doc1, r.doc2, r.jaccard)
        for r in minhash_dedup_pairs(docs, "text", "doc_id", threshold=1.0).collect()
    )
    assert got == [(1, 2, 1.0)]


def test_kmeans_assign_empty_input_raises_clearly(spark):
    """All-NULL vectors (or an empty frame) must raise the documented
    ValueError, not np.stack's opaque 'need at least one array'."""
    import pytest

    from panditya_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, v array<double>"
    )
    with pytest.raises(ValueError, match="no non-null vectors"):
        kmeans_assign(df, "id", "v", k=2)


def test_cosine_near_pairs_lsh_path(spark, monkeypatch):
    """LSH path: perfect recall on true near-duplicates (cos ≥ 0.99)
    and a plan with no cartesian product. The 80 rows take the exact
    path; a row threshold of 0 sends them through LSH."""
    import random

    from panditya_spark.operators import similarity
    from panditya_spark.operators.similarity import cosine_near_pairs

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows_ = []
    for i, v in enumerate(base):
        rows_.append((2 * i, v))
        # near-duplicate: tiny perturbation
        rows_.append((2 * i + 1, [x + rng.gauss(0, 0.01) for x in v]))
    df = spark.createDataFrame(rows_, ["vid", "vec"])

    exact = {
        (r.id1, r.id2)
        for r in cosine_near_pairs(df, "vid", "vec", 0.99).collect()
    }
    monkeypatch.setattr(similarity, "_COSINE_EXACT_MAX_ROWS", 0)
    approx_df = cosine_near_pairs(df, "vid", "vec", 0.99)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    approx = {(r.id1, r.id2) for r in approx_df.collect()}
    assert exact  # the 40 planted pairs exist
    assert approx == exact  # near-dup regime: LSH finds all of them


def test_winnowing_fingerprints(spark):
    """Winnowing invariants (Schleimer et al.): density ~1/window,
    selections are real k-gram hashes at their positions, identical
    docs yield identical sets, and a shared substring of length
    >= k + window - 1 yields a shared fingerprint."""
    from pyspark.sql import functions as F

    from panditya_spark.operators.dedup import winnowing_fingerprints

    k, w = 8, 4
    shared = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB ending one here"),
            (2, "CCCCCC prefix differs " + shared + " DDDD"),
            (3, "completely unrelated text with nothing in common xyzw"),
            (4, "AAAA " + shared + " BBBB ending one here"),  # == doc 1
        ],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(docs, "text", "doc_id", k=k, window=w)
    by_doc = {
        d: {(r["pos"], r["fp"]) for r in grp}
        for d, grp in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r["doc"]), key=lambda r: r["doc"]
        )
    }
    # identical docs -> identical fingerprint sets
    assert by_doc[1] == by_doc[4]
    # shared substring >= k+w-1 -> at least one shared fingerprint VALUE
    vals = lambda d: {fp for _, fp in by_doc[d]}
    assert vals(1) & vals(2)
    assert not (vals(3) & vals(1)) or len(vals(3) & vals(1)) < 3
    # density: |selected| is ~n_grams/w, never more than n_windows
    n1 = len(by_doc[1])
    text1 = docs.filter("doc_id = 1").first()["text"]
    n_grams = len(text1) - k + 1
    assert n_grams / (2 * w) <= n1 <= n_grams - w + 1
    # every fingerprint is the true k-gram hash at its position
    grams = docs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - (k - 1)),
                lambda i: F.xxhash64(F.col("text").substr(i, F.lit(k))),
            )
        ).alias("pos", "h"),
    )
    mismatches = (
        winnowing_fingerprints(docs, "text", "doc_id", k=k, window=w)
        .join(grams, ["doc", "pos"], "left")
        .filter((F.col("h").isNull()) | (F.col("h") != F.col("fp")))
        .count()
    )
    assert mismatches == 0


def test_stop_shingle_cap_bounds_hot_fanout(spark):
    """A boilerplate shingle shared by every doc (license header, nav
    bar) fans out quadratically in the inverted-index self-join — the
    stop-shingle DF cap must neutralize it while leaving genuine
    near-dup pairs (built from LOW-frequency shingles) intact."""
    header = "standard license header text appears everywhere always"
    # 20 docs: shared 7-word header + one unique tail word each. Every
    # shingle touching only the header appears in all 20 docs; shingles
    # touching the unique tail are per-doc.
    boiler = [(i, f"{header} unique{i}") for i in range(20)]
    # Plus one genuine near-dup pair with its OWN low-frequency content.
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = [(100, a), (101, a + " extra")]
    docs = spark.createDataFrame(boiler + near, ["doc_id", "text"])

    # Uncapped: the header alone makes all 20 boilerplate docs mutual
    # near-dups (jaccard = 5 shared of 7 per-doc shingles ≈ 0.56 — use
    # threshold 0.5) → C(20,2) = 190 pairs plus the genuine one.
    un = {
        (r[0], r[1])
        for r in rows(
            ngram_jaccard_pairs(
                docs, "text", "doc_id", k=3, threshold=0.5, max_doc_freq=None
            )
        )
    }
    assert (100, 101) in un
    assert len(un) == 191

    # Capped at DF ≤ 5: every header shingle (DF = 20) is stop-listed,
    # the quadratic blowup disappears, and ONLY the genuine pair —
    # whose shingles have DF ≤ 2 — survives.
    capped = {
        (r[0], r[1])
        for r in rows(
            ngram_jaccard_pairs(
                docs, "text", "doc_id", k=3, threshold=0.5, max_doc_freq=5
            )
        )
    }
    assert capped == {(100, 101)}


def test_cluster_canonical_hand_values(spark):
    from panditya_spark.operators.dedup import cluster_canonical

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc1", "doc2"]
    )
    out = {r[0]: (r[1], r[2]) for r in rows(cluster_canonical(pairs))}
    # {1,2,3} closes transitively; {10,11} is separate; keep = min only.
    assert out == {
        1: (1, 1), 2: (1, 0), 3: (1, 0),
        10: (10, 1), 11: (10, 0),
    }


def test_heavy_hitters_counts_and_tiebreak(spark):
    from panditya_spark.operators.text import heavy_hitters

    df = spark.createDataFrame(
        [(1, "b a  B"), (2, "a c"), (3, "C")], ["doc_id", "text"]
    )
    out = [tuple(r) for r in heavy_hitters(df, "text", top_n=2).collect()]
    # a:2, b:2, c:2 after lowercasing; ties break alphabetically.
    assert out == [("a", 2), ("b", 2)]


def test_stratified_sample_deterministic(spark):
    from panditya_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(g, i) for g in ("x", "y") for i in range(20)], ["grp", "k"]
    )
    a = rows(stratified_sample(df, ["grp"], "k", 3))
    b = rows(stratified_sample(df, ["grp"], "k", 3))
    assert a == b  # pure key function: identical across runs
    per = {}
    for grp, _, rn in a:
        per.setdefault(grp, []).append(rn)
    assert all(sorted(v) == [1, 2, 3] for v in per.values())


def test_deterministic_sample_is_pure_filter(spark):
    from panditya_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame([(i,) for i in range(256)], ["k"])
    out = rows(deterministic_sample(df, "k"))
    again = rows(deterministic_sample(df.repartition(7), "k"))
    assert out == again  # partition-layout independent
    assert 0 < len(out) < 256


def test_repetition_features_hand_values(spark):
    from panditya_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "one two three four five")], ["doc_id", "text"]
    )
    out = {r[0]: r for r in rows(repetition_features(df, "text", "doc_id"))}
    # doc 1: 2-grams [ab,ba,ab,ba,ab] → 5 total, 2 distinct → dup 0.6;
    # 3-grams [aba,bab,aba,bab] → 4 total, 2 distinct → dup 0.5 → drop.
    _, n1, d2, d3, keep1 = out[1]
    assert (n1, keep1) == (6, 0)
    assert abs(d2 - 0.6) < 1e-12 and abs(d3 - 0.5) < 1e-12
    # doc 2: no repeats at all → keep.
    assert out[2][1:] == (5, 0.0, 0.0, 1)


def test_contamination_pairs_hand_values(spark):
    from panditya_spark.operators.dedup import contamination_pairs

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 3 grams w/ bench
            (2, "totally unrelated words entirely here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta zeta")], ["doc_id", "text"]
    )
    out = rows(contamination_pairs(corpus, bench, "text", "doc_id", k=3, min_shared=2))
    # shared distinct 3-grams: "alpha beta gamma", "beta gamma delta" → 2.
    assert out == [(1, 100, 2)]


def test_pii_redaction(spark):
    from panditya_spark.operators.text import pii_counts, pii_redact

    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@sub.example.org now",),
            ("see https://a.b/c?d=1 and http://plain.net",),
            ("call +1-555-123-4567 or (020) 7946 0958 today",),
            ("nothing sensitive here",),
        ],
        ["t"],
    )
    out = df.select(
        F.col("t"), *pii_counts(F.col("t")), pii_redact(F.col("t")).alias("r")
    ).collect()
    by_text = {r["t"]: r for r in out}
    r0 = by_text["mail bob.smith+x@sub.example.org now"]
    assert (r0["n_emails"], r0["r"]) == (1, "mail <EMAIL> now")
    r1 = by_text["see https://a.b/c?d=1 and http://plain.net"]
    assert (r1["n_urls"], r1["r"]) == (2, "see <URL> and <URL>")
    r2 = by_text["call +1-555-123-4567 or (020) 7946 0958 today"]
    assert r2["n_phones"] == 2
    assert r2["r"] == "call <PHONE> or <PHONE> today"
    r3 = by_text["nothing sensitive here"]
    assert (r3["n_emails"], r3["n_urls"], r3["n_phones"]) == (0, 0, 0)
    assert r3["r"] == "nothing sensitive here"


def test_chunk_documents_hand_values(spark):
    from panditya_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), (2, "solo")],
        ["doc_id", "text"],
    )
    out = rows(chunk_documents(df, "text", "doc_id", chunk_size=4, stride=3))
    assert out == [
        (1, 1, 4, "w1 w2 w3 w4"),
        (1, 2, 4, "w4 w5 w6 w7"),
        (1, 3, 4, "w7 w8 w9 w10"),
        (1, 4, 1, "w10"),
        (2, 1, 1, "solo"),
    ]


def test_pack_sequences_hand_values(spark):
    from panditya_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [("s", 1, 3), ("s", 2, 4), ("s", 3, 2), ("t", 9, 7)],
        ["source", "doc_id", "n"],
    )
    out = rows(pack_sequences(df, "source", "doc_id", "n", budget=5))
    assert out == [
        ("s", 1, 3, 0, 0, 0),   # words 0-2 → bin 0
        ("s", 2, 4, 3, 0, 1),   # words 3-6 → straddles the cut at 5
        ("s", 3, 2, 7, 1, 1),   # words 7-8 → bin 1
        ("t", 9, 7, 0, 0, 1),   # separate shard restarts at offset 0
    ]


def test_cluster_canonical_paths_agree(spark, graph_tiers):
    """cluster_canonical's output is the same whichever tier of
    connected_components runs it — the size gate is a physical-strategy
    switch, never a semantics switch. Random 150-edge graph over 80
    nodes, fixed seed."""
    import random

    from panditya_spark.operators.dedup import cluster_canonical

    rng = random.Random(7)
    edges = list(
        {
            tuple(sorted(rng.sample(range(80), 2)))
            for _ in range(150)
        }
    )
    pairs = spark.createDataFrame(edges, ["doc1", "doc2"])
    got = {tier: rows(cluster_canonical(pairs)) for tier in graph_tiers()}
    assert got["local"] == got["distributed"]
    assert len(got["local"]) > 0


def test_mixture_sample_hits_target_ratio(spark):
    """Skewed source counts, skewed target: 100 'a' rows + 10 'b' rows
    with weights {a: 9, b: 1} must yield exactly 90:10 (integer-exact
    take derivation: K = min(100*10//9, 10*10//1) = 100 → 90, 10), and
    never upsample a source beyond its population. Unlisted sources
    are dropped entirely; rerun returns the identical row set."""
    from panditya_spark.operators.sampling import mixture_sample

    rows = (
        [(i, "a") for i in range(100)]
        + [(i + 1000, "b") for i in range(10)]
        + [(i + 2000, "zzz") for i in range(5)]  # not in weights
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_sample(df, "source", "doc_id", {"a": 9, "b": 1})
    got = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in got}
    assert by_src == {"a": 90, "b": 10}
    # Determinism: same input → identical selected id set.
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in mixture_sample(df, "source", "doc_id", {"a": 9, "b": 1}).collect()
    }
    assert ids1 == ids2


def test_fuzzy_match_recovers_ground_truth(spark):
    """On names whose identity survives one edit (distinct word stems),
    q-gram blocking + levenshtein recovers the exact source row for
    every corrupted record; rows beyond max_dist don't match at all."""
    from panditya_spark.operators.dedup import fuzzy_match_qgram

    clean = spark.createDataFrame(
        [
            (1, "alpha consolidated corp"),
            (2, "beta industries llc"),
            (3, "gamma logistics gmbh"),
            (4, "delta shipping sa"),
        ],
        ["ckey", "cname"],
    )
    dirty = spark.createDataFrame(
        [
            (11, "alpha consolidatedcorp"),   # dropped space -> dist 1
            (12, "beta industries lc"),        # dropped char  -> dist 1
            (13, "gamma logistics gmbh"),      # exact         -> dist 0
            (14, "totally unrelated name"),    # no match
        ],
        ["dkey", "dname"],
    )
    out = {
        r["dkey"]: (r["matched_key"], r["dist"])
        for r in fuzzy_match_qgram(
            dirty, clean, "dkey", "dname", "ckey", "cname", max_gram_df=None
        ).collect()
    }
    assert out == {11: (1, 1), 12: (2, 1), 13: (3, 0)}


def test_fuzzy_match_hot_gram_cap_bounds_candidates(spark):
    """With a shared hot prefix and a tiny gram-df cap, blocking rides
    only on the rare suffix grams — matches still land, and fully-hot
    names (no surviving gram) drop out instead of exploding the join."""
    from panditya_spark.operators.dedup import fuzzy_match_qgram

    clean = spark.createDataFrame(
        [(i, f"ACCT-{i:04d}") for i in range(100)], ["ckey", "cname"]
    )
    # Corrupt key 7: drop last digit. Its '007' suffix grams are rare.
    dirty = spark.createDataFrame([(7, "ACCT-000")], ["dkey", "dname"])
    out = fuzzy_match_qgram(
        dirty, clean, "dkey", "dname", "ckey", "cname",
        max_dist=1, max_gram_df=10,
    ).collect()
    assert len(out) == 1
    # 'ACCT-000' is one edit from ACCT-0000 (7->0 sub counts as key 0's
    # name? no: key 0 is 'ACCT-0000', one DELETION away) and from
    # 'ACCT-0007' (delete 7). Tiebreak min ckey -> 0. Deterministic.
    assert (out[0]["matched_key"], out[0]["dist"]) == (0, 1)


def _bpe_reference(word_freqs, n_merges):
    """Sequential reference BPE trainer (greedy leftmost merges)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for toks, f in vocab.items():
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < 2:
            break
        merges.append((best[0], best[1], counts[best]))
        new = {}
        for toks, f in vocab.items():
            res, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and (toks[i], toks[i + 1]) == best:
                    res.append(toks[i] + toks[i + 1])
                    i += 2
                else:
                    res.append(toks[i])
                    i += 1
            new[tuple(res)] = new.get(tuple(res), 0) + f
        vocab = new
    return merges


def test_bpe_train_matches_reference(spark):
    """Distributed BPE training must produce the exact merge sequence
    (pairs, ranks, AND counts) of a sequential reference trainer —
    including the overlapping-run subtlety ('aaaa' yields two 'aa'
    under greedy leftmost, not three)."""
    from panditya_spark.operators.text import bpe_train

    docs = [
        "low low low lower lower newest newest newest newest widest",
        "aaaa aaaa banana low newest",
    ]
    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    got = bpe_train(df, "text", n_merges=6)

    freqs = {}
    for d in docs:
        for w in d.lower().split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _bpe_reference(freqs, 6)
    assert got == want, (got, want)


def test_bpe_segment_applies_trained_merges(spark):
    """Segmentation under the trained merges reproduces the trainer's
    final tokenization of an in-corpus word and degrades to characters
    for unseen words."""
    from pyspark.sql import functions as F

    from panditya_spark.operators.text import bpe_segment_udf, bpe_train

    df = spark.createDataFrame(
        [("newest newest newest lowest",)], ["text"]
    )
    merges = bpe_train(df, "text", n_merges=4)
    seg = bpe_segment_udf(merges)
    out = {
        r["w"]: r["toks"]
        for r in spark.createDataFrame([("newest",), ("zq",)], ["w"])
        .select("w", seg(F.col("w")).alias("toks"))
        .collect()
    }
    assert "".join(out["newest"]) == "newest"
    assert len(out["newest"]) < 6          # merges actually applied
    assert out["zq"] == ["z", "q"]          # unseen word -> chars


def test_quality_classifier_separates(spark):
    """On a cleanly separable corpus (natural sentences vs one-phrase
    repetition), the bootstrapped logistic classifier must keep every
    real document and reject every junk document when scoring BOTH —
    i.e. the model actually learned the boundary, not a constant."""
    from pyspark.sql import functions as F

    from panditya_spark.operators.ml import (
        quality_feature_frame,
        score_quality,
        train_quality_classifier,
    )

    real = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a committee of researchers published the annual report on tuesday",
        "markets rallied after the central bank signalled steady rates",
        "the museum opened a new wing devoted to early modern printing",
    ]
    junk = ["buy now " * 30, "zzz " * 50, "click here click here " * 15]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(real)]
        + [(100 + i, t) for i, t in enumerate(junk)],
        ["doc_id", "text"],
    )
    feats = quality_feature_frame(docs, "text", "doc_id")
    train = feats.withColumn(
        "label", (F.col("doc_id") < 100).cast("int")
    )
    model = train_quality_classifier(train, "label")
    out = {r["doc_id"]: r["keep"] for r in score_quality(model, feats, "doc_id").collect()}
    assert all(out[i] == 1 for i in range(len(real))), out
    assert all(out[100 + i] == 0 for i in range(len(junk))), out


def test_quality_scoring_survives_observe(spark):
    """Regression (r16): once any query uses Observation/observe(),
    the session's lazy ObservationManager (non-serializable) is live;
    an ML model whose task closure drags the SparkSession along via
    its training summary then dies with "Task not serializable" on
    every scoring action. train_quality_classifier strips the summary
    at fit time; this pins the observe-then-score sequence."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from panditya_spark.operators.ml import (
        quality_feature_frame,
        score_quality,
        train_quality_classifier,
    )

    obs = Observation()
    spark.range(100).withColumn("f", F.col("id") % 2 == 0).observe(
        obs, F.max("f").alias("m")
    ).localCheckpoint(eager=True)
    assert obs.get["m"] is True

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "markets rallied after the central bank met on tuesday"),
         (100, "buy now " * 30), (101, "zzz " * 50)],
        ["doc_id", "text"],
    )
    feats = quality_feature_frame(docs, "text", "doc_id")
    model = train_quality_classifier(
        feats.withColumn("label", (F.col("doc_id") < 100).cast("int")), "label"
    )
    assert not model.stages[-1].hasSummary
    scored = score_quality(model, feats, "doc_id")
    scored.write.format("noop").mode("overwrite").save()
    out = {r["doc_id"]: r["keep"] for r in scored.collect()}
    assert out[0] == 1 and out[100] == 0, out


def test_kmeans_recovers_planted(spark):
    """On genuinely separated clusters (three orthogonal directions +
    small noise), distributed Lloyd recovers the planted partition
    exactly. (The testdata embeddings table is uniform noise — its
    `label` column is NOT geometric, measured intra=inter cosine — so
    recovery must be pinned here, on constructed data.)"""
    import random

    from panditya_spark.operators.similarity import kmeans_assign

    rng = random.Random(7)
    rows, truth = [], {}
    for c, base in enumerate(((10.0, 0, 0), (0, 10.0, 0), (0, 0, 10.0))):
        for i in range(30):
            vid = c * 100 + i
            vec = [b + rng.gauss(0, 0.5) for b in base]
            rows.append((vid, vec))
            truth[vid] = c
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, "vec_id", "embedding", k=3).collect()
    }
    assert len(got) == 90
    # Every planted cluster maps to exactly one k-means cluster.
    mapping = {}
    for vid, cl in got.items():
        mapping.setdefault(truth[vid], set()).add(cl)
    assert all(len(v) == 1 for v in mapping.values()), mapping
    assert len({next(iter(v)) for v in mapping.values()}) == 3


def test_kmeans_two_level_identity_coarse1(spark):
    """coarse_k=1 degenerates the two-level assignment to plain Lloyd
    over one cell — output must equal kmeans_assign EXACTLY (same
    hash-ordered init, lexicographic list ids, round-6 sims, first-max
    ties, mean updates). The registry row kmeans_two_level_identity
    re-checks this on the embeddings table every round; this pins it
    on constructed geometry."""
    import random

    from panditya_spark.operators.similarity import (
        kmeans_assign,
        kmeans_assign_two_level,
    )

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    single = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, "vec_id", "embedding", k=7).collect()
    }
    two = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign_two_level(
            df, "vec_id", "embedding", k=7, coarse_k=1
        ).collect()
    }
    assert two == single


def test_kmeans_local_tail_matches_distributed(spark, monkeypatch):
    """The r16 small-input local tail (one applyInPandas Lloyd) must be
    bit-identical to the distributed per-round loop — this is the
    load-bearing certification now that the two-level identity row
    compares two numpy paths. The distributed arm is forced by patching
    the byte gate to 0; same constructed geometry as the identity
    test plus planted exact duplicates (the SemDeDup co-cluster
    invariant) and a null vector (the drop contract)."""
    import random

    from panditya_spark.operators import similarity
    from panditya_spark.operators.similarity import kmeans_assign

    rng = random.Random(23)
    rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(90)]
    rows.append((90, list(rows[3][1])))  # planted exact duplicate
    rows.append((91, None))  # null vector: dropped on both paths
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    local = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, "vec_id", "embedding", k=8).collect()
    }
    monkeypatch.setattr(similarity, "_KMEANS_LOCAL_BYTES", 0)
    dist = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, "vec_id", "embedding", k=8).collect()
    }
    assert dist == local
    assert 91 not in local and local[90] == local[3]


def test_kmeans_two_level_past_cap_recovers_exact_duplicates(spark):
    """The escape hatch at work: k=5000 > SEMANTIC_DEDUP_MAX_K runs
    through coarse+refine (71×71 levels, both inside the cap) and
    keeps the invariant that matters for SemDeDup — identical vectors
    land in the same final cluster (same coarse argmax, same local
    refine) — while per-level over-cap parameters still raise."""
    import random

    import pytest

    from panditya_spark.operators.similarity import (
        SEMANTIC_DEDUP_MAX_K,
        kmeans_assign_two_level,
    )

    rng = random.Random(5)
    rows = []
    for i in range(300):
        vec = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((2 * i, vec))
        rows.append((2 * i + 1, list(vec)))  # exact duplicate
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign_two_level(
            df, "vec_id", "embedding", k=5000, max_iter=2
        ).collect()
    }
    assert len(got) == 600
    assert all(1 <= c <= 5000 for c in got.values())
    for i in range(300):
        assert got[2 * i] == got[2 * i + 1], i
    with pytest.raises(ValueError, match="exceed the per-level cap"):
        kmeans_assign_two_level(
            df, "vec_id", "embedding",
            k=SEMANTIC_DEDUP_MAX_K**2 + 1,
        )


def test_semantic_dedup_past_cap_auto_two_level(spark):
    """n_clusters past the cap no longer raises (the r8 escape hatch
    is implemented): semantic_dedup switches to two-level assignment
    and exact duplicates are still flagged."""
    from panditya_spark.operators.similarity import semantic_dedup

    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),     # exact dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),     # exact dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["is_dup"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=4100, threshold=0.97
        ).collect()
    }
    assert got[2] == 1 and got[4] == 1
    assert got[1] == 0 and got[3] == 0 and got[5] == 0 and got[6] == 0


# ------------------------------------------- substring-span coverage
def test_substring_coverage_hand_values(spark):
    """Interval-union arithmetic against hand-computed spans: doc a
    and b share one 3-gram run of length 4 (two overlapping shared
    grams), doc c is unrelated, doc d is too short for any gram."""
    from panditya_spark.operators.dedup import substring_coverage

    df = spark.createDataFrame(
        [
            (1, "x y z w common run here alpha"),
            (2, "p q common run here r s"),
            (3, "totally different words only here"),
            (4, "tiny"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc"]: (r["n_tokens"], r["n_shared_grams"], r["covered_tokens"])
        for r in substring_coverage(df, "text", "doc_id", k=3).collect()
    }
    # Shared 3-grams: "common run here" appears in docs 1 and 2 (one
    # position each) -> coverage 3 tokens in each.
    assert got[1] == (8, 1, 3)
    assert got[2] == (7, 1, 3)
    assert got[3] == (5, 0, 0)
    assert got[4] == (1, 0, 0)


def test_substring_coverage_merges_overlapping_spans(spark):
    """Overlapping shared windows must union, not double-count: two
    identical docs share every gram — coverage equals n_tokens, not
    n_grams * k."""
    from panditya_spark.operators.dedup import substring_coverage

    text = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, text), (2, text)], ["doc_id", "text"]
    )
    got = {
        r["doc"]: (r["n_tokens"], r["n_shared_grams"], r["covered_tokens"])
        for r in substring_coverage(df, "text", "doc_id", k=4).collect()
    }
    # 10 tokens, 7 windows of 4 -> union covers all 10 positions.
    assert got[1] == (10, 7, 10)
    assert got[2] == (10, 7, 10)


def test_substring_coverage_within_doc_repeat_not_shared(spark):
    """A span repeated WITHIN one doc only is not cross-document
    duplication — the frequency is distinct-doc based."""
    from panditya_spark.operators.dedup import substring_coverage

    df = spark.createDataFrame(
        [(1, "dup span here dup span here"), (2, "nothing in common at all")],
        ["doc_id", "text"],
    )
    got = {r["doc"]: r["covered_tokens"] for r in
           substring_coverage(df, "text", "doc_id", k=3).collect()}
    assert got == {1: 0, 2: 0}


# --------------------------------------------------- semantic (SemDeDup)
def test_semantic_dedup_threshold_semantics_single_cluster(spark):
    """k=1 degenerates to all-pairs: pins the threshold + smaller-id
    keeper convention exactly, independent of clustering recall."""
    from panditya_spark.operators.similarity import semantic_dedup

    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),     # exact dup of 1
        (3, [0.999, 0.01, 0.0, 0.0]),  # near dup of 1
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.98, 0.05]),   # near dup of 5
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["is_dup"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=1, threshold=0.97
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 0, 5: 0, 6: 1}


def test_semantic_dedup_exact_duplicates_always_co_cluster(spark):
    """EXACT duplicates have identical centroid distances, so the
    deterministic tie-break lands them in the same cluster — they are
    flagged at any k (near-dups split across clusters are the
    documented SemDeDup recall loss; exact ones never are)."""
    from panditya_spark.operators.similarity import semantic_dedup

    base = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),     # exact dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),     # exact dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    for k in (2, 3, 4):
        got = {
            r["vec_id"]: r["is_dup"]
            for r in semantic_dedup(
                df, "vec_id", "embedding", n_clusters=k, threshold=0.97
            ).collect()
        }
        assert got[2] == 1 and got[4] == 1, (k, got)
        assert got[1] == 0 and got[3] == 0 and got[5] == 0 and got[6] == 0, (k, got)


def test_semantic_dedup_deterministic(spark):
    from panditya_spark.operators.similarity import semantic_dedup

    import random

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = sorted(
        (r["vec_id"], r["cluster"], r["is_dup"])
        for r in semantic_dedup(df, "vec_id", "embedding", 4, 0.8).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster"], r["is_dup"])
        for r in semantic_dedup(df, "vec_id", "embedding", 4, 0.8).collect()
    )
    assert a == b
    assert len(a) == 60


# ----------------------------------------------------------------- PQ ANN
def test_pq_exact_when_codebook_covers_subvectors(spark):
    """With n_codes >= distinct subvectors the quantization is
    lossless, so ADC ranking equals exact cosine ranking."""
    from panditya_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    import random

    rnd = random.Random(5)
    # 8 distinct 2-dim subvector values, 4-dim vectors (m=2).
    vals = [[rnd.uniform(-1, 1) for _ in range(2)] for _ in range(8)]
    rows_in = [
        (i, vals[rnd.randrange(8)] + vals[rnd.randrange(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows_in, ["vec_id", "embedding"])
    cb = pq_train(df, "embedding", m=2, n_codes=8, iters=8, sample=40)
    codes = pq_encode(df, "vec_id", "embedding", cb)
    q = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    approx = {
        (r["qid"], r["rank"]): r["cid"]
        for r in pq_topk(q, codes, cb, c_id="vec_id", k=5).collect()
    }
    cands = df.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    exact = {
        (r["qid"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(q, cands, k=5).collect()
    }
    # Lossless quantization can still permute ties; compare top-5 SETS
    # per query.
    for qid in (0, 1):
        a = {approx[(qid, r)] for r in range(1, 6)}
        e = {exact[(qid, r)] for r in range(1, 6)}
        assert a == e, (qid, a, e)


def test_pq_recall_on_random_vectors(spark):
    from panditya_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    import random

    rnd = random.Random(17)
    rows_in = [
        (i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows_in, ["vec_id", "embedding"])
    cb = pq_train(df, "embedding", m=4, n_codes=32, iters=6, sample=200)
    codes = pq_encode(df, "vec_id", "embedding", cb)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cands = df.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    approx = pq_topk(q, codes, cb, c_id="vec_id", k=10).collect()
    exact = brute_force_topk(q, cands, k=10).collect()
    by_q_a: dict[int, set] = {}
    by_q_e: dict[int, set] = {}
    for r in approx:
        by_q_a.setdefault(r["qid"], set()).add(r["cid"])
    for r in exact:
        by_q_e.setdefault(r["qid"], set()).add(r["neighbor_id"])
    recalls = [
        len(by_q_a[q0] & by_q_e[q0]) / 10 for q0 in by_q_e
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_substring_coverage_matches_bruteforce_property(spark):
    """Randomized corpora vs a brute-force reference: per doc, the
    covered-token count must equal the size of the union of [pos,
    pos+k) intervals over positions whose k-gram occurs in another
    document. One batched Spark run over many seeded corpora."""
    import random

    from panditya_spark.operators.dedup import substring_coverage

    k = 3
    all_rows = []
    doc_id = 0
    for seed in range(8):
        rnd = random.Random(seed)
        vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> collisions
        for _ in range(5):
            n = rnd.randrange(0, 12)
            all_rows.append(
                (doc_id, " ".join(rnd.choice(vocab) for _ in range(n)))
            )
            doc_id += 1
    df = spark.createDataFrame(all_rows, ["doc_id", "text"])
    # All docs share the tiny vocab, so grams collide across seed
    # groups — the reference is computed over the WHOLE table, exactly
    # what Spark sees.
    grams_all: dict[str, set] = {}
    toks_all = {}
    for did, text in all_rows:
        w = [t for t in text.strip().split() if t] or ([""] if text.strip() == "" else [])
        toks_all[did] = w
        for i in range(max(0, len(w) - k + 1)):
            grams_all.setdefault(" ".join(w[i : i + k]), set()).add(did)
    got = {
        r["doc"]: (r["n_tokens"], r["n_shared_grams"], r["covered_tokens"])
        for r in substring_coverage(df, "text", "doc_id", k=k).collect()
    }
    for did, text in all_rows:
        w = toks_all[did]
        shared = [
            i
            for i in range(max(0, len(w) - k + 1))
            if len(grams_all[" ".join(w[i : i + k])]) >= 2
        ]
        covered: set[int] = set()
        for i in shared:
            covered.update(range(i, i + k))
        want = (len(w) if w else 1, len(shared), len(covered))
        assert got[did] == want, (did, text, got[did], want)


def test_training_shard_routing_is_layout_independent(spark):
    """The md5 shard router must assign identical shards regardless of
    input partitioning — the property that makes a shard build
    reproducible at any parallelism."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, j) for i in range(50) for j in range(1, 4)],
        ["doc_id", "chunk_idx"],
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("-"),
                           F.col("chunk_idx").cast("string"))), 1, 8),
        16, 10,
    ).cast("bigint")
    one = {
        (r["doc_id"], r["chunk_idx"]): r["s"]
        for r in df.coalesce(1).select("doc_id", "chunk_idx", (hv % 8).alias("s")).collect()
    }
    many = {
        (r["doc_id"], r["chunk_idx"]): r["s"]
        for r in df.repartition(16).select("doc_id", "chunk_idx", (hv % 8).alias("s")).collect()
    }
    assert one == many
    assert set(one.values()) == set(range(8))  # all shards populated


# ------------------------------------------- incremental snapshot dedup
def test_dedup_against_snapshot_hand_values(spark):
    """Snapshot {A, B}; batch: exact clone of A, a near-variant of B
    (shares most shingles), and a fresh doc. Only the batch is
    flagged; the fresh doc passes clean."""
    from panditya_spark.operators.dedup import dedup_against_snapshot

    snap = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        ["doc_id", "text"],
    )
    inc = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # exact clone of 1
            (11, "one two three four five six eight"),     # near-variant of 2
            (12, "totally unrelated content goes here now"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["dup_exact"], r["dup_near"])
        for r in dedup_against_snapshot(
            inc, snap, "text", "doc_id", k=3, threshold=0.5
        ).collect()
    }
    # doc 11 shares 4 of its 5 shingles with doc 2 (5 shingles each,
    # union 6): Jaccard 4/6 = 0.67 >= 0.5.
    assert out == {10: (1, 1), 11: (0, 1), 12: (0, 0)}, out


def test_dedup_against_snapshot_snapshot_never_flagged(spark):
    """The output is one row per INCOMING doc only — the snapshot is
    immutable and never appears in the result."""
    from panditya_spark.operators.dedup import dedup_against_snapshot

    snap = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], ["doc_id", "text"]
    )
    inc = spark.createDataFrame([(9, "a b c d e f")], ["doc_id", "text"])
    rows = dedup_against_snapshot(inc, snap, "text", "doc_id").collect()
    assert [r["doc_id"] for r in rows] == [9]
    assert rows[0]["dup_exact"] == 1 and rows[0]["dup_near"] == 1


def test_semantic_dedup_k_ceiling_guard(spark):
    """The driver-centroid-matrix contract survives the round-10
    escape hatch: n_clusters past the single-level cap routes through
    two-level assignment (covered functionally by
    test_semantic_dedup_past_cap_auto_two_level), and only a k beyond
    what BOTH levels can hold still raises — with the cap named."""
    import pytest

    from panditya_spark.operators.similarity import (
        SEMANTIC_DEDUP_MAX_K,
        semantic_dedup,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    out = semantic_dedup(
        df, "vec_id", "embedding", n_clusters=SEMANTIC_DEDUP_MAX_K + 1
    ).collect()
    assert [(r["vec_id"], r["is_dup"]) for r in out] == [(1, 0)]
    with pytest.raises(ValueError, match="per-level cap"):
        semantic_dedup(
            df, "vec_id", "embedding", n_clusters=SEMANTIC_DEDUP_MAX_K**2 + 1
        )


def test_kmeans_assign_filters_null_vectors(spark):
    """NULL vectors carry no geometry: kmeans_assign drops them before
    the np.stack UDF instead of crashing the task (ADVICE r6 #4)."""
    from panditya_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None), (4, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_assign(df, "vec_id", "embedding", k=2)
    ids = sorted(r["vec_id"] for r in out.collect())
    assert ids == [1, 2, 4]
