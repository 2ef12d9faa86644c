"""Dedup operator tests: exact, MinHash-LSH, SimHash — verified against
brute-force similarity on small corpora with injected near-duplicates."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aleph2_contrib_spark.operators import dedup as ddp

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different text about spark sql query optimization and shuffles"),
    (4, "completely different text about spark sql query optimization and shuffle"),  # near-dup of 3
    (5, "unrelated document mentioning databases indexes and storage engines"),
    (6, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS])


def test_exact_dedup_arbitrary(spark, docs):
    out = ddp.exact_dedup(docs.withColumn("fp", ddp.fingerprint(F.col("text"))), ["fp"])
    assert out.count() == 5


def test_exact_dedup_keep_first(spark, docs):
    withfp = docs.withColumn("fp", ddp.fingerprint(F.col("text")))
    out = ddp.exact_dedup(withfp, ["fp"], order_col="doc_id", keep="first")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 2, 3, 4, 5]  # 6 dropped (dup of 1, higher id)


def test_minhash_pairs_find_near_dups(spark, docs):
    pairs = ddp.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (3, 4) in got and (1, 6) in got and (2, 6) in got
    assert not any({a, b} & {5} for a, b in got)


def test_minhash_jaccard_exactness(spark, docs):
    """The jaccard column must equal brute-force shingle jaccard."""
    pairs = ddp.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.0).collect()
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in docs.select("doc_id", ddp.char_shingles(F.col("text"), 5).alias("sh")).collect()
    }
    for r in pairs:
        a, b = sh[r["id_a"]], sh[r["id_b"]]
        expect = len(a & b) / len(a | b)
        assert abs(r["jaccard"] - expect) < 1e-9


def test_minhash_dedup_drops_higher_ids(spark, docs):
    out = ddp.minhash_dedup(docs, "doc_id", "text", threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 5]


def test_numpy_signature_bit_exact(spark, docs):
    """The numpy fast path must produce IDENTICAL signatures to the pure
    Catalyst expression path (it replicates Spark's XXH64 exactly)."""
    from pyspark.sql import functions as F
    from aleph2_contrib_spark.operators.dedup import (
        char_shingles,
        minhash_signature,
        minhash_signature_numpy,
    )

    hashed = docs.select(
        "doc_id", char_shingles(F.col("text"), 5).alias("sh")
    ).withColumn("hs", F.array_distinct(F.transform(F.col("sh"), lambda s: F.xxhash64(s))))
    expr_sig = {r["doc_id"]: r["sig"] for r in hashed.withColumn(
        "sig", minhash_signature(F.col("sh"), 16)).select("doc_id", "sig").collect()}
    np_sig = {r["doc_id"]: r["sig"] for r in minhash_signature_numpy(
        hashed, "hs", 16).select("doc_id", "sig").collect()}
    assert expr_sig == np_sig


def test_minhash_numpy_impl_same_pairs(spark, docs):
    a = ddp.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    b = ddp.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, sig_impl="numpy")
    assert {(r["id_a"], r["id_b"]) for r in a.collect()} == {(r["id_a"], r["id_b"]) for r in b.collect()}


def test_simhash_near_dups(spark, docs):
    pairs = ddp.simhash_pairs(docs, "doc_id", "text", max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 6) in got  # exact dup → hamming 0
    assert (1, 2) in got and (3, 4) in got


def test_simhash_numpy_bit_exact(spark, docs):
    from pyspark.sql import functions as F

    a = docs.select("doc_id", ddp.simhash(F.col("text")).alias("s1"))
    b = ddp.simhash_numpy(docs, "text").select("doc_id", F.col("simhash").alias("s2"))
    assert a.join(b, "doc_id").filter(F.col("s1") != F.col("s2")).count() == 0


def test_simhash_exact_dup_zero_distance(spark, docs):
    sh = {r["doc_id"]: r["s"] for r in docs.select("doc_id", ddp.simhash(F.col("text")).alias("s")).collect()}
    assert sh[1] == sh[6]
    assert sh[1] != sh[5]


def test_token_shingles(spark, docs):
    row = docs.filter(F.col("doc_id") == 5).select(
        ddp.token_shingles(F.col("text"), 3).alias("sh")
    ).head()
    assert row["sh"][0] == "unrelated document mentioning"
    assert len(row["sh"]) == 8 - 3 + 1


def test_simhash_md5_numpy_bit_exact(spark, docs):
    a = docs.select("doc_id", ddp.simhash_md5(F.col("text")).alias("s1"))
    b = ddp.simhash_md5_numpy(docs, "text").select("doc_id", F.col("simhash").alias("s2"))
    j = a.join(b, "doc_id")
    assert j.filter(F.col("s1") != F.col("s2")).count() == 0


def test_connected_components_known_graph(spark):
    from pyspark.sql import Row

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11),
         Row(id_a=20, id_b=21), Row(id_a=21, id_b=22), Row(id_a=22, id_b=20)]
    )
    cc = {r["node"]: r["component"] for r in ddp.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_chain_converges(spark):
    # a long path graph stresses the propagation rounds (diameter = n-1);
    # pointer jumping must finish in O(log n) rounds, far under diameter
    from pyspark.sql import Row

    n = 40
    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n)])
    cc = ddp.connected_components(pairs, max_iter=10, driver_max_edges=0).collect()
    assert {r["component"] for r in cc} == {0}
    assert len(cc) == n + 1


def test_connected_components_nonconvergence_raises(spark):
    # exhausting max_iter must raise, never silently return split clusters
    from pyspark.sql import Row

    pairs = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(40)])
    with pytest.raises(RuntimeError, match="did not converge"):
        ddp.connected_components(pairs, max_iter=1, driver_max_edges=0)


def test_connected_components_local_distributed_parity(spark):
    """The stats-probed driver-side union-find and the distributed
    pointer-jumping loop must emit IDENTICAL (node, component) labels —
    same min-id representative contract — on a graph mixing chains,
    cycles, a star, and singleton-free isolates."""
    import random

    from pyspark.sql import Row

    rng = random.Random(7)
    edges = (
        [(i, i + 1) for i in range(0, 30)]            # chain
        + [(100, 101), (101, 102), (102, 100)]        # cycle
        + [(200, 200 + k) for k in range(1, 8)]       # star
        + [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(25)]
    )
    pairs = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    local = {
        (r["node"], r["component"])
        for r in ddp.connected_components(pairs).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in ddp.connected_components(pairs, driver_max_edges=0).collect()
    }
    assert local == dist and local


# ------------------------------------------------- incremental corpus dedup


def test_dedup_against_corpus_drops_near_dups(spark):
    from pyspark.sql import Row

    old = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again today"),
            Row(doc_id=2, text="an entirely different historical document about spark plans"),
        ]
    )
    new = spark.createDataFrame(
        [
            # near-copy of old 1 (one word changed)
            Row(doc_id=10, text="the quick brown fox jumps over the lazy cat again and again today"),
            # exact copy of old 2 (different id)
            Row(doc_id=11, text="an entirely different historical document about spark plans"),
            # genuinely new
            Row(doc_id=12, text="completely novel content that shares nothing with the corpus at all"),
        ]
    )
    out = ddp.dedup_against_corpus(
        new, old, "doc_id", "text", num_hashes=64, bands=64, threshold=0.5,
        shingle_mode="token", verify="exact",
    )
    assert sorted(r.doc_id for r in out.collect()) == [12]


def test_dedup_against_corpus_keeps_new_vs_new_dups(spark):
    """Only the EXISTING corpus dedups the batch — duplicates within the
    new batch itself are kept (callers run minhash_dedup for intra-batch)."""
    from pyspark.sql import Row

    old = spark.createDataFrame([Row(doc_id=1, text="old corpus text entirely unrelated to anything")])
    dup = "two new documents that are exact copies of each other word for word"
    new = spark.createDataFrame([Row(doc_id=10, text=dup), Row(doc_id=11, text=dup)])
    out = ddp.dedup_against_corpus(new, old, "doc_id", "text", bands=64, threshold=0.5,
                                   shingle_mode="token")
    assert sorted(r.doc_id for r in out.collect()) == [10, 11]


def test_signature_store_matches_on_the_fly_path(spark):
    """Store-backed incremental dedup must return exactly what signing the
    corpus on the fly returns (same signatures → same candidates → same
    survivors), and append() must fold new docs into the corpus so the
    next day's run sees them."""
    from pyspark.sql import Row

    old = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again today"),
            Row(doc_id=2, text="an entirely different historical document about spark plans"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick brown fox jumps over the lazy cat again and again today"),
            Row(doc_id=11, text="an entirely different historical document about spark plans"),
            Row(doc_id=12, text="completely novel content that shares nothing with the corpus at all"),
        ]
    )
    kw = dict(num_hashes=64, bands=64, threshold=0.5, shingle_mode="token", verify="exact")
    expected = sorted(
        r.doc_id for r in ddp.dedup_against_corpus(new, old, "doc_id", "text", **kw).collect()
    )
    store = ddp.MinHashSignatureStore(
        spark, "a2s_test_sigstore", num_hashes=64, bands=64, shingle_mode="token"
    ).build(old, "doc_id", "text")
    got = sorted(
        r.doc_id
        for r in ddp.dedup_against_corpus(
            new, id_col="doc_id", text_col="text", threshold=0.5, verify="exact", store=store
        ).collect()
    )
    assert got == expected == [12]

    # maintenance: survivors join the corpus; an exact re-submission of 12
    # is now a duplicate, an unrelated doc still survives
    store.append(new.filter(F.col("doc_id") == 12), "doc_id", "text")
    day2 = spark.createDataFrame(
        [
            Row(doc_id=20, text="completely novel content that shares nothing with the corpus at all"),
            Row(doc_id=21, text="fresh unrelated material mentioning neither foxes nor plans whatsoever"),
        ]
    )
    got2 = sorted(
        r.doc_id
        for r in ddp.dedup_against_corpus(
            day2, id_col="doc_id", text_col="text", threshold=0.5, verify="exact", store=store
        ).collect()
    )
    assert got2 == [21]


def test_dedup_against_corpus_requires_exactly_one_source(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(doc_id=1, text="x")])
    with pytest.raises(ValueError):
        ddp.dedup_against_corpus(df)
    store = ddp.MinHashSignatureStore(spark, "a2s_test_sigstore_dummy")
    with pytest.raises(ValueError):
        ddp.dedup_against_corpus(df, df, "doc_id", "text", store=store)


def test_span_dedup_removes_cross_doc_spans_keeps_first(spark):
    """A 4-token span repeated across docs survives only in the earliest
    (id, position); unique spans all survive; reassembly preserves
    in-document order."""
    from pyspark.sql import Row

    boiler = "copyright notice all rights"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{boiler} alpha beta gamma delta"),
            Row(doc_id=2, text=f"{boiler} epsilon zeta eta theta"),
            Row(doc_id=3, text="entirely unique content nothing shared here at all"),
        ]
    )
    out = {r.doc_id: r for r in ddp.span_dedup(docs, "doc_id", "text", span_tokens=4).collect()}
    assert out[1].deduped_text == f"{boiler} alpha beta gamma delta"
    assert out[1].n_spans == 2 and out[1].n_kept == 2
    # doc 2 loses the boilerplate span but keeps its own tail
    assert out[2].deduped_text == "epsilon zeta eta theta"
    assert out[2].n_spans == 2 and out[2].n_kept == 1
    assert out[3].n_kept == out[3].n_spans == 2
    assert out[3].deduped_text == "entirely unique content nothing shared here at all"


def test_span_dedup_partition_independent(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{(i * 7 + j) % 23}" for j in range(25))) for i in range(40)]
    )
    a = sorted(ddp.span_dedup(docs, "doc_id", "text", 5).collect())
    b = sorted(ddp.span_dedup(docs.repartition(13), "doc_id", "text", 5).collect())
    assert a == b


def test_minhash_dedup_cc_one_rep_per_cluster(spark, docs):
    """Docs 1,2,6 form one near-dup cluster, 3,4 another, 5 a singleton —
    CC keeps exactly the min id of each with the cluster size attached."""
    out = ddp.minhash_dedup_cc(docs, "doc_id", "text", threshold=0.5)
    got = {r["doc_id"]: r["dup_group_size"] for r in out.collect()}
    assert got == {1: 3, 3: 2, 5: 1}


def test_minhash_dedup_cc_transitive_vs_greedy(spark):
    """A hub-shaped cluster (A~C, B~C, A!~B): greedy drops only C (keeps
    two docs of one cluster); CC collapses the component to its min id.
    The hub is built from two distinct halves that share doc C's text."""
    half1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    half2 = "one two three four five six seven eight nine ten"
    rows = [
        Row(doc_id=10, text=half1),
        Row(doc_id=20, text=half2),
        Row(doc_id=30, text=half1 + " " + half2),  # hub: near both halves?
    ]
    df = spark.createDataFrame(rows)
    # token-3-gram jaccard(half, hub) = 8/18 = 0.444; pick 0.4 threshold
    pairs = ddp.minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=64, bands=64,
        threshold=0.4, shingle_mode="token",
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(10, 30), (20, 30)}
    cc = ddp.minhash_dedup_cc(
        df, "doc_id", "text", num_hashes=64, bands=64,
        threshold=0.4, shingle_mode="token",
    )
    kept = {r["doc_id"]: r["dup_group_size"] for r in cc.collect()}
    assert kept == {10: 3}
    greedy = ddp.minhash_dedup(
        df, "doc_id", "text", num_hashes=64, bands=64,
        threshold=0.4, shingle_mode="token",
    )
    assert sorted(r["doc_id"] for r in greedy.collect()) == [10, 20]


# ------------------------------------------------- fuzzy levenshtein pairs


def test_fuzzy_levenshtein_pairs_basic(spark):
    """Small edits within a block pair up; different blocks never meet;
    the length pre-filter and distance threshold both apply."""
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumped over the lazy dog"),   # dist small
        Row(doc_id=3, text="the quick brown cat naps all day long"),          # same block, far
        Row(doc_id=4, text="zzz completely different text entirely"),         # other block
    ]
    out = ddp.fuzzy_levenshtein_pairs(
        spark.createDataFrame(rows), "doc_id", "text",
        max_distance=4, compare_chars=48, block_chars=8,
    ).collect()
    pairs = {(r.id_a, r.id_b): r.lev_dist for r in out}
    assert (1, 2) in pairs and 1 <= pairs[(1, 2)] <= 4
    assert all(k == (1, 2) for k in pairs), pairs


def test_fuzzy_levenshtein_canonicalizes_whitespace_and_case(spark):
    rows = [
        Row(doc_id=1, text="Hello   World THIS IS fine"),
        Row(doc_id=2, text="hello world this is fine"),
    ]
    out = ddp.fuzzy_levenshtein_pairs(
        spark.createDataFrame(rows), "doc_id", "text", max_distance=0
    ).collect()
    assert len(out) == 1 and out[0].lev_dist == 0


def test_fuzzy_levenshtein_plan_is_blocked_equi_join(spark):
    """The self-join must be a hash join on the block key — no cartesian,
    no nested loop."""
    rows = [Row(doc_id=i, text=f"doc number {i} body") for i in range(10)]
    plan = (
        ddp.fuzzy_levenshtein_pairs(spark.createDataFrame(rows), "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------- containment pairs


def test_containment_pairs_doc_inside_doc(spark):
    """A small doc fully embedded in a big one: containment catches it in
    the small→big direction even though Jaccard is low; unrelated docs
    produce nothing."""
    inner = "alpha beta gamma delta epsilon zeta"
    big = inner + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [
        Row(doc_id=1, text=inner),
        Row(doc_id=2, text=big),
        Row(doc_id=3, text="totally different words here entirely now"),
    ]
    out = ddp.containment_pairs(
        spark.createDataFrame(rows), "doc_id", "text", tau_permille=900, ngram=3
    ).collect()
    pairs = {(r.id_a, r.id_b): r for r in out}
    assert (1, 2) in pairs                      # small ⊂ big
    assert pairs[(1, 2)].cont_f6 == 1_000_000   # every shingle contained
    assert (2, 1) not in pairs                  # big ⊄ small
    assert all(3 not in p for p in pairs)


def test_containment_prefix_filter_is_lossless(spark):
    """The prefix-filtered join must equal the brute-force all-pairs
    answer (exactness guarantee of prefix filtering)."""
    import itertools
    import random

    rng = random.Random(3)
    vocab = [f"t{i}" for i in range(30)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b): (r.inter, r.size_a)
        for r in ddp.containment_pairs(df, "doc_id", "text", tau_permille=700, ngram=2).collect()
    }

    def shingle(t):
        w = [x for x in t.lower().split() if x]
        return set(" ".join(w[i:i + 2]) for i in range(len(w) - 1))

    sets = {r.doc_id: shingle(r.text) for r in rows if len(r.text.split()) >= 2}
    want = {}
    for a, b in itertools.permutations(sets, 2):
        inter = len(sets[a] & sets[b])
        if inter * 1000 >= 700 * len(sets[a]):
            want[(a, b)] = (inter, len(sets[a]))
    assert got == want


def test_fuzzy_levenshtein_block_size_cap(spark):
    """max_block_size drops oversized boilerplate blocks deterministically;
    small blocks still pair."""
    rows = [Row(doc_id=i, text=f"boilerplate prefix shared variant {i}") for i in range(10)]
    rows += [Row(doc_id=100, text="unique pair text one"),
             Row(doc_id=101, text="unique pair text two")]
    df = spark.createDataFrame(rows)
    uncapped = ddp.fuzzy_levenshtein_pairs(df, "doc_id", "text", max_distance=10)
    capped = ddp.fuzzy_levenshtein_pairs(
        df, "doc_id", "text", max_distance=10, max_block_size=5
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}                       # big block dropped whole
    assert len(uncapped.collect()) > len(got)


def test_containment_hot_shingle_cap_keeps_rare_matches(spark):
    """max_shingle_freq drops boilerplate-only candidates but pairs that
    share RARE shingles still verify against their FULL sets (cont_f6
    unchanged vs uncapped for surviving pairs)."""
    boiler = "terms of service apply to all users here"
    rows = [Row(doc_id=i, text=boiler) for i in range(8)]
    rows += [
        Row(doc_id=100, text="rare unique passage appears here exactly once more"),
        Row(doc_id=101, text="rare unique passage appears here exactly once more today"),
    ]
    df = spark.createDataFrame(rows)
    capped = {
        (r.id_a, r.id_b): r.cont_f6
        for r in ddp.containment_pairs(
            df, "doc_id", "text", tau_permille=900, max_shingle_freq=4
        ).collect()
    }
    # boilerplate clique (freq-8 shingles) is gone; the rare pair stays
    assert all(a >= 100 and b >= 100 for a, b in capped)
    assert (100, 101) in capped
    uncapped = {
        (r.id_a, r.id_b): r.cont_f6
        for r in ddp.containment_pairs(df, "doc_id", "text", tau_permille=900).collect()
    }
    assert capped[(100, 101)] == uncapped[(100, 101)]


# -- sorted_neighborhood_pairs ------------------------------------------------


def test_sorted_neighborhood_hand_worked(spark):
    import pytest

    from aleph2_contrib_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(10, "bob"), (20, "alice"), (30, "carol"), (40, "alicia")]
    df = spark.createDataFrame(rows, "id long, name string")
    # sort order by name: alice(20), alicia(40), bob(10), carol(30)
    got = {
        (r["id_a"], r["id_b"]): r["rank_dist"]
        for r in sorted_neighborhood_pairs(df, ["name"], "id", window=2).collect()
    }
    assert got == {
        (20, 40): 1, (40, 10): 1, (10, 30): 1,
        (20, 10): 2, (40, 30): 2,
    }
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, ["name"], "id", window=0)


def test_sorted_neighborhood_oracle_matches(spark, tmp_path):
    import random

    import duckdb

    from aleph2_contrib_spark.operators.dedup import (
        sorted_neighborhood_oracle_sql,
        sorted_neighborhood_pairs,
    )

    rnd = random.Random(19)
    # duplicate sort keys exercise the id tie-break
    rows = [(i, rnd.choice("abcdef") * rnd.randint(1, 3)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, k string")
    p = str(tmp_path / "t.parquet")
    df.coalesce(1).write.parquet(p)
    got = {tuple(x) for x in sorted_neighborhood_pairs(df, ["k"], "id", window=4).collect()}
    sql = sorted_neighborhood_oracle_sql(
        f"SELECT id, k FROM '{p}/*.parquet'", ["k"], "id", window=4
    )
    want = {tuple(x) for x in duckdb.sql(sql).fetchall()}
    assert got == want and len(got) > 0


def test_cross_source_overlap_matrix(spark):
    from pyspark.sql import Row

    from aleph2_contrib_spark.operators.dedup import cross_source_overlap

    docs = spark.createDataFrame(
        [
            Row(source="A", text="w1 w2 w3 w4 w5"),
            Row(source="B", text="w1  W2 w3 w4 x"),  # whitespace/case-normalized
            Row(source="C", text="z1 z2 z3 z4"),
            Row(source="C", text=None),
        ]
    )
    out = {
        (r.source_a, r.source_b): (
            r.shared_shingles,
            r.total_a,
            r.total_b,
            r.containment_ppm,
        )
        for r in cross_source_overlap(docs, "text", "source", n=4).collect()
    }
    # A and B share exactly the gram "w1 w2 w3 w4"; C shares nothing
    assert out == {("A", "B"): (1, 2, 2, 500_000)}
    # cap = 1: the shared gram lives in 2 sources -> fenced out, no pairs
    empty = cross_source_overlap(
        docs, "text", "source", n=4, max_sources_per_shingle=1
    ).collect()
    assert empty == []


def test_containment_driver_matches_distributed(spark):
    """Driver SSJoin replica == distributed joins, including the auto
    hot-shingle cap, an explicit int cap, and the None (exact) mode."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(3, 40))]
        docs.append((i, " ".join(words)))
    # containment plants: doc embedded in a larger doc
    docs.append((100, docs[0][1]))
    docs.append((101, docs[0][1] + " " + docs[1][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from aleph2_contrib_spark.operators.dedup import containment_pairs

    for cap in ("auto", None, 8):
        fast = {
            tuple(r)
            for r in containment_pairs(
                df, tau_permille=700, ngram=2, max_shingle_freq=cap
            ).collect()
        }
        slow = {
            tuple(r)
            for r in containment_pairs(
                df,
                tau_permille=700,
                ngram=2,
                max_shingle_freq=cap,
                driver_cap_shingles=0,
            ).collect()
        }
        assert fast == slow, cap


def test_containment_skips_pairs_of_one_duplicated_id(spark):
    """Two rows carrying the same id are one document: neither path may
    emit an id_a == id_b pair, and both paths agree."""
    from aleph2_contrib_spark.operators.dedup import containment_pairs

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, dup), (1, dup), (3, text), (4, text + " and then some")], "doc_id long, text string"
    )
    driver = {tuple(r) for r in containment_pairs(df, tau_permille=800, ngram=2).collect()}
    distributed = {
        tuple(r)
        for r in containment_pairs(df, tau_permille=800, ngram=2, driver_cap_shingles=0).collect()
    }
    assert all(a != b for a, b, *_ in driver | distributed)
    assert driver == distributed == {(3, 4, 8, 8, 1_000_000)}


def test_minhash_pairs_driver_matches_distributed(spark):
    import random

    rng = random.Random(9)
    base_words = [f"tok{i}" for i in range(40)]
    docs = []
    for i in range(25):
        words = [base_words[rng.randrange(len(base_words))] for _ in range(rng.randrange(8, 30))]
        docs.append((i, " ".join(words)))
    # plant near-dups
    docs.append((50, docs[0][1]))
    docs.append((51, docs[0][1] + " tok0 tok1"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from aleph2_contrib_spark.operators.dedup import minhash_lsh_pairs

    for verify, bands in (("exact", 64), ("exact", 16), ("estimate", 16)):
        fast = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", num_hashes=64, bands=bands,
                threshold=0.4, shingle_mode="token", verify=verify,
                sig_impl="numpy",
            ).collect()
        }
        slow = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", num_hashes=64, bands=bands,
                threshold=0.4, shingle_mode="token", verify=verify,
                sig_impl="numpy", driver_cap_shingles=0,
            ).collect()
        }
        assert fast == slow, (verify, bands)
