"""Planted-duplicate tests for the dedup family (operators/dedup.py):
exact, normalized, MinHash+LSH, SimHash.  These cover the xxhash64-based
ops that have no DuckDB oracle (queries_llmdata.py q33/q34)."""

from __future__ import annotations

import pytest

from flink_s3_read_write_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "astronauts calibrate the ancient telescope near the quiet harbor "
    "and the patient engineers measure gravity with copper instruments"
)
NEAR = BASE.replace("quiet harbor", "noisy harbor").replace("copper", "silver")
FAR = (
    "completely unrelated text about database systems and distributed "
    "query processing with columnar storage vectorized execution and "
    "adaptive partitioning across thousands of commodity machines"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),              # exact dup of 1
        (3, "  The QUICK brown fox! " + BASE[len("the quick brown fox "):]),
        (4, NEAR),              # near dup of 1 (2 words changed)
        (5, FAR),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    out = {r["text"]: r["doc_id"] for r in D.exact_dedup(docs).collect()}
    assert out[BASE] == 1           # 2 collapsed into 1
    assert len(out) == 5            # 6 docs, one exact-dup pair


def test_normalized_dedup_collapses_case_punct(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    rows = {r["norm_text"]: r for r in D.normalized_dedup(df).collect()}
    assert rows["hello world"]["n_dups"] == 2
    assert rows["hello world"]["doc_id"] == 1


def test_minhash_finds_near_pair_not_far(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs_verified(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dups
    assert (1, 4) in pairs and pairs[(1, 4)] >= 0.8   # near dup
    assert not any(5 in p for p in pairs)             # FAR not paired


def test_minhash_signature_deterministic(docs):
    a = D.minhash_signatures(docs).collect()
    b = D.minhash_signatures(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_bucket_guard_caps_blowup(spark):
    # 60 identical docs with max_bucket=50 -> every band bucket has 60
    # members; under the explicit legacy drop policy no pairs are
    # emitted, and no O(n^2) join runs on either policy.  The DEFAULT
    # policy is ring since r14: bounded O(n*(ring_c+1)) pairs, never
    # zero, never n^2.
    df = spark.createDataFrame([(i, BASE) for i in range(60)], "doc_id long, text string")
    assert D.minhash_lsh_pairs(df, max_bucket=50, over_cap="drop").count() == 0
    default_n = D.minhash_lsh_pairs(df, max_bucket=50).count()
    assert 0 < default_n <= 60 * 3  # ring default: bounded, not dropped
    assert D.minhash_lsh_pairs(df, max_bucket=100).count() == 60 * 59 // 2


def test_cap_bucket_prepass_equivalence(spark, docs):
    """cap_bucket_prepass=True (count-only pre-aggregate + anti-join
    BEFORE the collect accumulator — the callable form of the r10
    collect-state disposition) must emit the identical pair set as the
    default post-collect filter, on a mixed corpus AND on a synthetic
    degenerate bucket where the cap binds (60 identical docs,
    max_bucket=50: every band bucket is over-cap, zero pairs), and its
    plan must carry the LeftAnti guard."""
    from flink_s3_read_write_spark.plans import inspect as P

    degen = spark.createDataFrame(
        [(i, BASE) for i in range(60)] + [(100, NEAR), (101, FAR)],
        "doc_id long, text string",
    )
    for frame in (docs, degen):
        # hash_src="md5" buckets on the RAW SLOT TUPLE (an ARRAY join
        # key), so the prepass anti-join must hold for array-typed
        # band keys too, not just the xxhash64 bigint key.
        # The prepass is a drop-only knob since the r14 ring default
        # (ring + prepass raises), so both sides pin over_cap="drop".
        for hs in ("xxhash64", "md5"):
            spark.catalog.clearCache()  # hint-blind CacheManager (SCALE.md)
            a = sorted(map(tuple,
                           D.minhash_lsh_pairs(frame, max_bucket=50,
                                               hash_src=hs,
                                               over_cap="drop").collect()))
            b = sorted(map(tuple,
                           D.minhash_lsh_pairs(frame, max_bucket=50,
                                               hash_src=hs, over_cap="drop",
                                               cap_bucket_prepass=True).collect()))
            assert a == b, hs
        sa = sorted(map(tuple, D.simhash_near_pairs(frame, max_bucket=3,
                                                    over_cap="drop").collect()))
        sb = sorted(map(tuple,
                        D.simhash_near_pairs(frame, max_bucket=3,
                                             over_cap="drop",
                                             cap_bucket_prepass=True).collect()))
        assert sa == sb
    # The degenerate corpus really exercises the binding cap on the
    # prepass path: the 60-doc bucket vanishes, the near/far strays
    # can't pair with anything at Jaccard-band granularity.
    assert D.minhash_lsh_pairs(degen, max_bucket=50, over_cap="drop",
                               cap_bucket_prepass=True).count() == 0
    plan = P.formatted_plan(
        D.minhash_lsh_pairs(degen, max_bucket=50, over_cap="drop",
                            cap_bucket_prepass=True))
    assert "LeftAnti" in plan, plan
    plan_s = P.formatted_plan(
        D.simhash_near_pairs(degen, max_bucket=3, over_cap="drop",
                             cap_bucket_prepass=True))
    assert "LeftAnti" in plan_s, plan_s


def test_over_cap_ring_policy(spark, docs):
    """over_cap="ring" (r13; the DEFAULT since r14): over-cap buckets
    emit each doc paired with its next ring_c bucket-neighbors AND
    the bucket's min id.
    Contract: (1) identical pair set to the legacy drop policy on a
    corpus with no over-cap bucket; (2) on a degenerate bucket where
    drop emits ZERO pairs, ring emits a BOUNDED (≤ n·(ring_c+1)) pair
    set that keeps the duplicate cluster CONNECTED at diameter ≤ 2,
    so the DEFAULT bounded-round connected-components recovers the
    full cluster the cap used to destroy (a star-less pure ring
    measurably stalls: 41/60 labeled after 20 min-label rounds)."""
    degen = spark.createDataFrame(
        [(i, BASE) for i in range(60)] + [(100, NEAR), (101, FAR)],
        "doc_id long, text string",
    )
    # 0. Knob guards: bogus policy and a ring_c that would silently
    # degrade to star-only pairing both fail fast (plan-build time).
    for bad in (dict(over_cap="bogus"), dict(over_cap="ring", ring_c=0),
                # ring subsumes the two-pass guard; silently dropping
                # one of two explicit knobs is the ADVICE r13 trap.
                dict(over_cap="ring", cap_bucket_prepass=True)):
        with pytest.raises(ValueError):
            D.minhash_lsh_pairs(degen, **bad)
        with pytest.raises(ValueError):
            D.simhash_near_pairs(degen, **bad)
    # Sentinel default (r16, VERDICT r15 item 6): the prepass WITHOUT
    # an explicit over_cap (the drop-era idiom) had its one-round
    # r15 deprecation window (drop semantics + warning); the window
    # closed with zero internal warn hits, so the ambiguous
    # combination is now a hard error — callers must name the policy.
    with pytest.raises(ValueError, match="drop-only knob"):
        D.minhash_lsh_pairs(degen, max_bucket=50,
                            cap_bucket_prepass=True)
    with pytest.raises(ValueError, match="drop-only knob"):
        D.simhash_near_pairs(degen, max_bucket=3,
                             cap_bucket_prepass=True)

    # 1. No over-cap bucket -> ring (the default) is value-identical
    # to the explicit legacy drop policy.
    for hs in ("xxhash64", "md5"):
        spark.catalog.clearCache()
        a = sorted(map(tuple,
                       D.minhash_lsh_pairs(docs, max_bucket=50, hash_src=hs,
                                           over_cap="drop").collect()))
        r = sorted(map(tuple,
                       D.minhash_lsh_pairs(docs, max_bucket=50,
                                           hash_src=hs).collect()))
        assert a == r, hs
    sa = sorted(map(tuple, D.simhash_near_pairs(docs, max_bucket=50,
                                                over_cap="drop").collect()))
    sr = sorted(map(tuple, D.simhash_near_pairs(docs, max_bucket=50).collect()))
    assert sa == sr

    # 2. Degenerate 60-identical-doc bucket, max_bucket=50: drop
    # emits nothing (the 300x-tier recall collapse), ring emits a
    # bounded connected set.
    assert D.minhash_lsh_pairs(degen, max_bucket=50,
                               over_cap="drop").count() == 0
    ring = D.minhash_lsh_pairs(degen, max_bucket=50,
                               over_cap="ring", ring_c=2)
    got = ring.collect()
    assert 0 < len(got) <= 61 * 3  # O(n*(ring_c+1)), never O(n^2)
    # Plan pin: the over/under split is a window-count FILTER on one
    # exchange, not the count-preagg + semi/anti joins it replaced
    # (that formulation recomputed the signature pipeline per
    # consumer — measured 3x wall on q208 at gate SF).
    from flink_s3_read_write_spark.plans import inspect as P

    plan = P.formatted_plan(ring)
    assert "LeftAnti" not in plan and "LeftSemi" not in plan, plan
    assert "Window" in plan
    paired_ids = {r.id_a for r in got} | {r.id_b for r in got}
    assert 101 not in paired_ids  # FAR never enters the bucket
    labels = {r.id: r.cluster_id for r in D.connected_components(ring).collect()}
    assert {labels[i] for i in range(60)} == {0}  # one cluster, min-id label

    # 3. Same contract on the SimHash banding (identical docs share
    # the simhash, so ring pairs verify at hamming 0).
    s_ring = D.simhash_near_pairs(degen, max_bucket=3,
                                  over_cap="ring", ring_c=2)
    s_got = s_ring.collect()
    assert 0 < len(s_got) <= 61 * 3
    assert all(r.hamming == 0 for r in s_got if r.id_a < 60 and r.id_b < 60)
    s_labels = {
        r.id: r.cluster_id
        for r in D.connected_components(
            s_ring.select("id_a", "id_b")).collect()
    }
    assert {s_labels[i] for i in range(60)} == {0}

    # 4. End-to-end API: dedup_keep_list forwards the policy through
    # **kwargs (verify -> lsh), so the full mine→verify→cluster→keep
    # chain flips from 62 keepers (every doc its own cluster — the
    # drop-policy recall hole) to 2: one keeper for the
    # 61-member near-dup cluster (the 60 identical docs PLUS the
    # NEAR stray, which shares their buckets and passes the 0.5
    # Jaccard verify) and the FAR stray.  The r14 before/after delta:
    # the PRODUCTION DEFAULT (no knobs) now takes the ring path and
    # yields the 2 keepers; the 62-keeper recall hole requires
    # explicitly opting back into drop.
    drop_keep = D.dedup_keep_list(degen, threshold=0.5, max_bucket=50,
                                  over_cap="drop")
    assert drop_keep.filter("keep").count() == 62
    default_keep = D.dedup_keep_list(degen, threshold=0.5, max_bucket=50)
    keepers = sorted(r.doc_id for r in default_keep.filter("keep").collect())
    assert keepers == [0, 101]
    ring_keep = D.dedup_keep_list(degen, threshold=0.5, max_bucket=50,
                                  over_cap="ring", ring_c=2)
    keepers = sorted(r.doc_id for r in ring_keep.filter("keep").collect())
    assert keepers == [0, 101]


def test_simhash_near_pairs(docs):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(docs, max_hamming=6).collect()
    }
    assert got.get((1, 2)) == 0                      # identical -> hamming 0
    assert (1, 4) in got and got[(1, 4)] <= 6        # near dup, few bits differ
    assert not any(5 in p for p in got)


def test_jaccard_tokens_exact(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c d", "c d e f")], "x string, y string")
    j = df.select(D.jaccard_tokens(F.col("x"), F.col("y")).alias("j")).collect()[0]["j"]
    assert j == pytest.approx(2 / 6)


def test_connected_components_chains_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_log_rounds_on_a_long_path(spark):
    """A 64-vertex path with shuffled ids (diameter 63) reaches exact
    component-minimum labels within 2*ceil(log2 n)+2 rounds — label
    propagation would need a round per hop — and an exhausted
    ``max_iter`` raises instead of returning labels that are not
    component minima."""
    import math
    import random

    n = 64
    ids = list(range(100, 100 + n))
    random.Random(13).shuffle(ids)
    chain = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    pairs = spark.createDataFrame(chain + [(30, 31)], "id_a long, id_b long")
    bound = 2 * math.ceil(math.log2(n)) + 2
    got = {r["id"]: r["cluster_id"]
           for r in D.connected_components(pairs, max_iter=bound).collect()}
    assert got == {**{i: 100 for i in ids}, 30: 30, 31: 30}
    with pytest.raises(RuntimeError, match="max_iter=1 "):
        D.connected_components(pairs, max_iter=1)


def test_ring_candidates_compute_signatures_once(docs):
    """The ring policy emits under-cap bucket pairs and over-cap
    ring+star pairs from one window pass over one bucket exchange, so
    the signature stage appears once in the plan — the split into two
    branches carried it twice, with no exchange reuse."""
    import re

    from flink_s3_read_write_spark.plans import inspect as P

    for engine in ("numpy", "catalyst"):
        plan = P.formatted_plan(
            D.minhash_lsh_pairs(docs, over_cap="ring", engine=engine))
        nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.MULTILINE)
        if engine == "numpy":
            assert nodes.count("MapInPandas") == 1, plan
        assert nodes.count("Exchange") == 2, plan  # bucket key, distinct
        assert "Union" not in nodes, plan


def test_q54_spark_jobs_per_call(spark, sf_dir):
    """One q54 call from released shared builders, executed: the
    builder fills, the verify, the connected-components rounds and the
    join back to every document.  Measured 24 jobs on sf0.001 before
    the signature stage ran once per fill and connected components
    became self-probing large-star/small-star rounds; 14 after."""
    from flink_s3_read_write_spark import queries_llmdata as QL
    from flink_s3_read_write_spark.session import release_shared_builders

    sc = spark.sparkContext
    release_shared_builders(spark)
    group = "test-q54-jobs"
    sc.setJobGroup(group, group)
    try:
        assert len(QL.q54_dedup_keep_list(spark, sf_dir).collect()) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_shared_builders(spark)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= 14, n


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured, CC rounds use RELIABLE
    checkpoint() (r17 durability knob) — same fixpoint, and the
    checkpoint dir actually receives RDD state."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # knob off by default
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        got = {r["id"]: r["cluster_id"]
               for r in D.connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        ckpt_root = str(tmp_path / "ckpt")
        written = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckpt_root) for f in fs
        ]
        assert written, "reliable checkpoint wrote nothing"
    finally:
        # PySpark has no unsetCheckpointDir; reset the JVM-side Option
        # to None so later tests in this session keep the local
        # fallback ("checkpointDir_$eq" is Scala's setter name).
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)


def test_dedup_keep_list_planted(docs):
    rows = {r["doc_id"]: r for r in D.dedup_keep_list(docs, threshold=0.5).collect()}
    assert len(rows) == 6                        # every document labeled
    # 1,2,4 form one near-dup cluster (exact + near pair) -> keeper 1
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == rows[4]["cluster_id"] == 1
    assert rows[1]["keep"] and not rows[2]["keep"] and not rows[4]["keep"]
    # unrelated and empty docs are singletons that keep themselves
    for i in (3, 5, 6):
        if rows[i]["cluster_id"] == i:
            assert rows[i]["keep"]


def test_numpy_signatures_bit_identical_to_catalyst(spark, sf_dir):
    from flink_s3_read_write_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["minhash"] for r in D.minhash_signatures(docs).collect()}
    b = {r["doc_id"]: r["minhash"] for r in D.minhash_signatures_numpy(docs).collect()}
    assert a == b


@pytest.mark.parametrize("hash_src", ["xxhash64", "md5"])
def test_catalyst_lsh_tokenizes_each_document_once(spark, sf_dir, hash_src):
    """The null-signature filter of ``minhash_lsh_pairs`` must not be
    pushed below the signature: there it inlined ``tokens()`` into the
    shingle lambda, whose regexes then re-ran once per shingle."""
    from flink_s3_read_write_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, engine="catalyst", hash_src=hash_src)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1


def test_minhash_permutations_are_independent(spark):
    """Regression for the degenerate affine family: with a real
    permutation family, a pair with partial shingle overlap matches
    SOME but not all/none of the signature slots (~64*J on average).
    The broken scheme made every slot a monotonic function of the one
    min shingle hash, so slots matched all-or-nothing."""
    words = [f"tok{i}" for i in range(30)]
    a = " ".join(words[:20])
    b = " ".join(words[10:30])
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sig = {r["doc_id"]: r["minhash"] for r in D.minhash_signatures(df).collect()}
    matches = sum(1 for x, y in zip(sig[1], sig[2]) if x == y)
    assert 5 < matches < 59, f"slots matching: {matches}/64 (degenerate if 0 or 64)"


def test_short_docs_excluded_from_lsh_banding(spark):
    """Docs with < k words have no shingles; they must NOT all collide
    in a hash-of-nulls bucket and pair with each other."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "alpha beta"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    assert D.minhash_lsh_pairs(df).count() == 0


def test_normalized_dedup_non_latin_not_collapsed(spark):
    df = spark.createDataFrame(
        [(1, "你好世界"), (2, "Привет мир"), (3, "hello"), (4, "hello")],
        "doc_id long, text string",
    )
    rows = D.normalized_dedup(df).collect()
    by_key = {r["norm_text"]: r for r in rows}
    assert by_key["hello"]["n_dups"] == 2
    assert by_key["#1"]["n_dups"] == 1      # non-Latin docs stay singletons
    assert by_key["#2"]["n_dups"] == 1


def test_md5_minhash_finds_near_pair_not_far(docs):
    """The md5 double-hash engine (q33's oracle-checkable path) keeps
    the planted-duplicate behavior of the xxhash64 engine."""
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs_verified(
            docs, threshold=0.5, hash_src="md5"
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and pairs[(1, 4)] >= 0.8
    assert not any(5 in p for p in pairs)


def test_md5_numpy_signatures_bit_identical_to_catalyst(spark, sf_dir):
    from flink_s3_read_write_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {
        r["doc_id"]: r["minhash"]
        for r in D.minhash_signatures(docs, hash_src="md5").collect()
    }
    b = {
        r["doc_id"]: r["minhash"]
        for r in D.minhash_signatures_numpy(docs, hash_src="md5").collect()
    }
    assert a == b


def test_md5_minhash_permutations_are_independent(spark):
    """h1 + j*h2 must behave like independent permutations on partial
    overlap: some but not all/none of the 64 slots match."""
    words = [f"tok{i}" for i in range(30)]
    a = " ".join(words[:20])
    b = " ".join(words[10:30])
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    sig = {
        r["doc_id"]: r["minhash"]
        for r in D.minhash_signatures(df, hash_src="md5").collect()
    }
    matches = sum(1 for x, y in zip(sig[1], sig[2]) if x == y)
    assert 5 < matches < 59, f"slots matching: {matches}/64 (degenerate if 0 or 64)"


def test_md5_simhash_near_pairs(docs):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(docs, max_hamming=6, hash_src="md5").collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 4) in got and got[(1, 4)] <= 6
    assert not any(5 in p for p in got)


def test_simhash_sig_injection_bit_identical(docs):
    """r16 ``sig`` hook contract: injecting a precomputed signature
    frame built by the SAME engine (dedup.simhash) yields pairs
    bit-identical to the uninjected path, under production knobs and
    under the forced-cap ring knobs (q209's shape)."""
    sig = D.simhash(docs, hash_src="md5")
    for kw in (
        {},
        {"max_bucket": 2, "over_cap": "ring", "ring_c": 2},
    ):
        base = sorted(
            map(tuple, D.simhash_near_pairs(docs, hash_src="md5", **kw).collect())
        )
        injected = sorted(
            map(tuple, D.simhash_near_pairs(docs, hash_src="md5", sig=sig, **kw).collect())
        )
        assert injected == base


def test_verify_scores_injection_bit_identical(docs):
    """r16 ``scores`` hook contract: verifying through a precomputed
    minhash_verify_scores table yields pairs bit-identical to the
    inline path, under BOTH threshold forms (double compare and
    integer cross-multiplication) — the q208/q210 sharing shape."""
    scores = D.minhash_verify_scores(docs)
    for kw in ({"threshold": 0.5}, {"threshold": 0.5, "threshold_frac": (1, 2)}):
        base = sorted(
            map(tuple, D.minhash_dedup_pairs_verified(docs, **kw).collect())
        )
        injected = sorted(
            map(tuple, D.minhash_dedup_pairs_verified(docs, scores=scores, **kw).collect())
        )
        assert injected == base
        assert base, "hook test must exercise a non-empty pair set"


def test_md5_short_docs_excluded_from_lsh_banding(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "alpha beta"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    assert D.minhash_lsh_pairs(df, hash_src="md5").count() == 0


@pytest.mark.parametrize("hash_src", ["xxhash64", "md5"])
def test_shingle_verified_lsh_equals_brute_force(spark, sf_dir, hash_src):
    """Soundness condition of q54's DuckDB oracle: on the test corpus,
    LSH candidates catch EVERY pair with shingle-Jaccard >= 0.9 (the
    16x4 S-curve miss probability at 0.9 is ~3e-8 per pair), so the
    verified pair set equals the exact brute-force pair set and the
    oracle may skip the banding step entirely.  Parametrized over both
    hash engines: q54 runs the md5 family (shared cached candidates
    with q33 since r08), the xxhash64 family remains the default
    operator path — the recall argument must hold for each."""
    from pyspark.sql import functions as F

    from flink_s3_read_write_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    lsh = D.minhash_dedup_pairs_verified(
        docs, threshold=0.9, verify_on="shingles", threshold_frac=(9, 10),
        hash_src=hash_src,
    )
    got = {tuple(sorted((r["id_a"], r["id_b"]))) for r in lsh.collect()}

    sh = docs.select(
        "doc_id",
        F.array_distinct(D.shingles_from_tokens(D.tokens(F.col("text")), 3)).alias("s"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    pairs = a.join(b, F.col("id_b") > F.col("id_a"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    union = F.size(F.array_union("sa", "sb")).cast("long")
    exact = pairs.filter((union > 0) & (inter * 10 >= union * 9))
    want = {(r["id_a"], r["id_b"]) for r in exact.select("id_a", "id_b").collect()}
    assert got == want
    assert want  # non-vacuous: the corpus does contain planted near-dups


def test_minhash_shared_builders_materialize_once(spark):
    """r08 shared-builder mechanism for the dedup arc: repeated calls
    to minhash_candidates / doc_shingle_sets construct the identical
    analyzed plan, so the plan-keyed CacheManager materializes each
    once per session, and both q33 and q54 read InMemoryTableScans of
    the candidate build instead of re-running signatures + banding."""
    from flink_s3_read_write_spark import queries_llmdata as QL
    from flink_s3_read_write_spark.plans import inspect as P

    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    try:
        jsc = spark.sparkContext._jsc.sc()

        def n_cached():
            return len([i for i in jsc.getRDDStorageInfo()])

        c1 = QL.minhash_candidates(spark, sf)
        c1.count()
        n_after_first = n_cached()
        c2 = QL.minhash_candidates(spark, sf)  # fresh call, same plan
        c2.count()
        # <= not ==: async unpersist can retire entries between reads
        assert n_cached() <= n_after_first  # no second materialization

        plan = P.formatted_plan(QL.q33_minhash_dedup_pairs(spark, sf))
        assert "InMemoryTableScan" in plan, "q33 must read the cached candidates"

        # q54's FINAL plan hides behind connected_components'
        # localCheckpoint (lineage deliberately truncated), so assert
        # on its verify stage instead: candidate pairs AND shingle
        # sets must both come from InMemoryRelations.
        from flink_s3_read_write_spark.operators import dedup as D2
        from flink_s3_read_write_spark.sources.io import load_table

        docs = load_table(spark, sf, "documents")
        verified = D2.minhash_dedup_pairs_verified(
            docs, threshold=0.9, verify_on="shingles", threshold_frac=(9, 10),
            cand=QL.minhash_candidates(spark, sf),
            toks=QL.doc_shingle_sets(spark, sf),
        )
        vplan = P.formatted_plan(verified)
        assert vplan.count("InMemoryTableScan") >= 2, vplan
        # and the end-to-end keep-list still runs green on the shared
        # builders (the CC labels join back to every document).
        assert QL.q54_dedup_keep_list(spark, sf).count() > 0
    finally:
        spark.catalog.clearCache()


def test_shared_builder_memo_returns_one_handle(spark):
    """r16 plan memo: repeated builder calls in one session return the
    SAME analyzed DataFrame handle (the reconstruction cost was pure
    driver-side re-analysis), keyed per (session, builder, sf_dir),
    and reset_plan_memos() drops the handles."""
    from flink_s3_read_write_spark import queries_llmdata as QL
    from flink_s3_read_write_spark.session import reset_plan_memos
    from flink_s3_read_write_spark.sources import io as sio

    reset_plan_memos()
    try:
        a = QL.doc_tokens(spark, "/root/testdata/sf0.001")
        b = QL.doc_tokens(spark, "/root/testdata/sf0.001")
        assert a is b
        c = QL.doc_tokens(spark, "/root/testdata/sf0.01")
        assert c is not a  # sf_dir is part of the key
        reset_plan_memos()
        assert not sio._BUILDER_MEMO
        d = QL.doc_tokens(spark, "/root/testdata/sf0.001")
        assert d is not a
        # the handle stays usable across a JVM cache reset: clearCache
        # unpersists data, the memoized plan just re-materializes.
        spark.catalog.clearCache()
        assert d.count() == a.count() > 0
    finally:
        reset_plan_memos()
        spark.catalog.clearCache()


def test_q195_reads_shared_shingle_cache(spark):
    """r09: q195's prefix-filter SSJoin derives its shingle postings
    from the shared doc_shingle_sets builder (the table q33/q54 also
    consume) — after the builder materializes once, q195's plan reads
    the InMemoryRelation instead of re-running tokenize+shingle, and
    executing it adds only its own two caches (the exploded postings
    and the prefix table feeding both candidate-join sides), never a
    second shingle-set materialization."""
    from flink_s3_read_write_spark import queries_llmdata as QL
    from flink_s3_read_write_spark.plans import inspect as P

    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    try:
        QL.doc_shingle_sets(spark, sf).count()
        jsc = spark.sparkContext._jsc.sc()
        n_before = len([i for i in jsc.getRDDStorageInfo()])
        q = QL.q195_prefix_filter_ssjoin(spark, sf)
        assert "InMemoryTableScan" in P.formatted_plan(q)
        assert q.count() > 0
        n_after = len([i for i in jsc.getRDDStorageInfo()])
        assert n_after - n_before <= 2, (n_before, n_after)
    finally:
        spark.catalog.clearCache()


def test_doc_tokens_shared_across_text_family(spark):
    """r09: the tokenize pass materializes ONCE (doc_tokens) and the
    whole text family reads it — repeated builder calls add no second
    cache entry, and every consumer plan (shingle sets, boilerplate
    n-grams, inverted index, PMI, skipgrams) reads an
    InMemoryTableScan instead of re-running the normalize regexes."""
    from flink_s3_read_write_spark import queries_llmdata as QL
    from flink_s3_read_write_spark.plans import inspect as P

    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    try:
        jsc = spark.sparkContext._jsc.sc()
        QL.doc_tokens(spark, sf).count()
        n1 = len([i for i in jsc.getRDDStorageInfo()])
        QL.doc_tokens(spark, sf).count()  # identical plan -> same cache
        # <= not ==: async unpersist can retire entries between reads
        assert len([i for i in jsc.getRDDStorageInfo()]) <= n1
        for qfn in (QL.q68_boilerplate_ngrams, QL.q192_inverted_index,
                    QL.q200_pmi_collocations, QL.q202_skipgram_cooccurrence):
            plan = P.formatted_plan(qfn(spark, sf))
            assert "InMemoryTableScan" in plan, qfn.__name__
        assert "InMemoryTableScan" in P.formatted_plan(
            QL.doc_shingle_sets(spark, sf))
    finally:
        spark.catalog.clearCache()


def test_q195_matches_brute_force_exact_ssjoin(spark):
    """End-to-end zero-false-negative check on REAL data: the oracle
    mirrors the same prefix-filter algorithm, so a shared algorithmic
    bug would hash-match anyway — this test instead compares q195
    against the quadratic brute-force spec (all doc pairs, exact
    shingle-set Jaccard >= 0.8 via the same integer cross-multiplied
    threshold) at sf0.001."""
    import pyspark.sql.functions as F

    from flink_s3_read_write_spark import queries_llmdata as QL

    sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    try:
        got = {
            (r["doc_a"], r["doc_b"], r["n_common"], r["n_a"], r["n_b"])
            for r in QL.q195_prefix_filter_ssjoin(spark, sf).collect()
        }
        shing = QL.doc_shingle_sets(spark, sf)
        a = shing.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
        b = shing.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
        i = F.size(F.array_intersect("ta", "tb")).cast("long")
        na, nb = F.size("ta").cast("long"), F.size("tb").cast("long")
        brute = (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", i.alias("i"), na.alias("n_a"), nb.alias("n_b"))
            .filter((F.col("n_a") > 0)
                    & (F.lit(9) * F.col("i") >= F.lit(4) * (F.col("n_a") + F.col("n_b"))))
        )
        want = {
            (r["doc_a"], r["doc_b"], r["i"], r["n_a"], r["n_b"])
            for r in brute.collect()
        }
        assert got == want
        assert want  # non-vacuous: planted near-dups exist in the corpus
    finally:
        spark.catalog.clearCache()


def test_minhash_arrow_input_width_pinned(spark):
    """The minhash signature mapInPandas must receive exactly
    (doc_id, hashed-shingle array) — a caller's extra columns (the
    full text, metadata, ...) must be pruned before the Arrow
    boundary, which blocks Catalyst column pruning."""
    from tests.conftest import arrow_input_cols

    docs = spark.createDataFrame(
        [(1, "a b c d e f", "fat" * 50)], "doc_id long, text string, fat string"
    )
    for hash_src in ("xxhash64", "md5"):
        cols = arrow_input_cols(D.minhash_signatures_numpy(docs, hash_src=hash_src))
        assert cols in ({"doc_id", "_h"}, {"doc_id", "_hh"}), cols


def test_ring_star_k_two_family_bucket(spark):
    """star_k (r14): with two near-dup families sharing one over-cap
    bucket, star_k=1 sends every star edge to the GLOBAL bucket min
    (the lower family), so the upper family's hub edges are missing;
    star_k=2 also pairs each doc with the bucket's 2nd-smallest id.
    Checked directly on _ring_pairs over a synthetic bucket whose ids
    interleave the two families."""
    from flink_s3_read_write_spark.operators.dedup import (
        _check_over_cap, _ring_pairs)

    # one bucket (band 0, key 7): family A = ids {0, 20, 40},
    # family B = ids {10, 30, 50} — interleaved in id order.
    rows = [(i, 0, 7) for i in (0, 10, 20, 30, 40, 50)]
    over = spark.createDataFrame(rows, "doc_id long, band int, k int")

    def pairs(star_k):
        return {
            (r.id_a, r.id_b)
            for r in _ring_pairs(over, ["band", "k"], "doc_id",
                                 ring_c=1, star_k=star_k).collect()
        }

    p1 = pairs(1)
    # ring (next-1) + star to min 0 only
    assert p1 == {(0, 10), (10, 20), (20, 30), (30, 40), (40, 50),
                  (0, 20), (0, 30), (0, 40), (0, 50)}
    p2 = pairs(2)
    # star_k=2 adds edges to the 2nd-smallest id (10)
    assert p2 == p1 | {(10, 30), (10, 40), (10, 50)}

    # knob guard: star_k=0 would re-open the pure-ring CC stall
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _check_over_cap("ring", 2, star_k=0)

    # payload threads through the widened star (simhash in-row verify)
    rows_p = [(i, 0, 7, i * 111) for i in (0, 10, 20, 30)]
    over_p = spark.createDataFrame(
        rows_p, "doc_id long, band int, k int, simhash long")
    got = {
        (r.id_a, r.id_b): (r.pa, r.pb)
        for r in _ring_pairs(over_p, ["band", "k"], "doc_id",
                             ring_c=1, payload="simhash",
                             star_k=2).collect()
    }
    assert got[(10, 30)] == (10 * 111, 30 * 111)
    assert got[(0, 20)] == (0, 20 * 111)


def test_ring_star_k_three_family_bucket(spark):
    """The >=3-family residual, pinned structurally (ADVICE r15):
    star_k=2 is sufficient for exactly TWO co-bucketed near-dup
    families — with THREE families interleaved in one over-cap
    bucket, the third family's hub edges route to neither of the two
    smallest bucket ids, so a verify threshold sitting exactly on the
    hub edge can still split the third family's cluster.  star_k=3
    restores them.  This is the triage key for a K2 witness failure
    under the gating q54 entry: split clusters whose only hub edges
    run through a bucket shared with TWO lower-id families are this
    documented residual — raise star_k, not a bug
    (tools/witness_oracle.KEEP_LIST_VERIFY carries the pointer)."""
    from flink_s3_read_write_spark.operators.dedup import _ring_pairs

    # one bucket: family A = {0, 30}, B = {10, 40}, C = {20, 50} —
    # interleaved so the two smallest ids (0, 10) belong to A and B.
    rows = [(i, 0, 7) for i in (0, 10, 20, 30, 40, 50)]
    over = spark.createDataFrame(rows, "doc_id long, band int, k int")

    def pairs(star_k):
        return {
            (r.id_a, r.id_b)
            for r in _ring_pairs(over, ["band", "k"], "doc_id",
                                 ring_c=1, star_k=star_k).collect()
        }

    # C's hub edge (20, 50) is absent at star_k=2: ring gives
    # (20, 30) and (40, 50), stars give edges to 0 and 10 only.
    p2 = pairs(2)
    assert (20, 50) not in p2
    # ... so if verify accepts ONLY intra-family edges (threshold on
    # the hub), C = {20, 50} has no surviving edge and splits.
    fam = {0: "A", 30: "A", 10: "B", 40: "B", 20: "C", 50: "C"}
    intra2 = {p for p in p2 if fam[p[0]] == fam[p[1]]}
    assert intra2 == {(0, 30), (10, 40)}  # C unconnected
    # star_k=3 adds the 3rd-smallest id (20 — C's min) as a star
    # center, restoring C's hub edge and every family's connectivity.
    p3 = pairs(3)
    assert (20, 50) in p3
    intra3 = {p for p in p3 if fam[p[0]] == fam[p[1]]}
    assert intra3 == {(0, 30), (10, 40), (20, 50)}
