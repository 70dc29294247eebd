"""Deduplication operators for large-scale training-data pipelines.

Five families (driver north star, BASELINE.json):
exact, normalized-exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hot paths are pure Catalyst expressions — tokenization, shingling,
hashing and banding happen with higher-order array functions and
``xxhash64``, so at 100 TB the work is JVM-side, codegen'd, and the
only shuffles are (a) the group-by on band buckets and (b) the
candidate-pair self-join, both on well-distributed hash keys.

Skew/blow-up guards: LSH buckets larger than ``max_bucket`` never
expand to their n² pairs (a degenerate bucket — empty docs,
boilerplate — would otherwise dominate the job).  The PRODUCTION
DEFAULT policy for such buckets is ``over_cap="ring"`` (r14 decision,
SCALE.md DESIGN note): each over-cap doc pairs with its next
``ring_c`` id-order bucket-neighbors plus the bucket's min id —
O(n·(ring_c+1)) pairs, cluster connectivity at diameter ≤ 2 —
because the r13 300× experiment measured the legacy ``"drop"``
policy collapsing dedup recall to 0.015 exactly where dedup matters
most, while ring holds recall 1.000 at wall parity.  ``"drop"``
remains available as an explicit opt-out for pipelines that would
rather lose degenerate clusters than verify O(n) extra candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-permutation 64-bit keys for the xorshift minhash mixer.  An
# affine family (a·h+b) mod p is NOT usable here: ANSI mode (Spark 4
# default) rejects 64-bit multiply wraparound, and shrinking a/h far
# enough to avoid overflow makes every product smaller than p — the mod
# becomes an identity, each "permutation" is monotonic in h, and all 64
# signature slots collapse to functions of the single min shingle hash
# (LSH banding then degenerates to exact min-hash matching).  The
# XOR-key + xorshift construction below is a 64-bit bijection built
# only from xor/shift — no overflow, a genuinely different ordering per
# key, and bit-for-bit reproducible in NumPy uint64.  Fixed seed →
# deterministic across runs/clusters.
import random as _random

_rng = _random.Random(0x5EED)
_PERM_KEYS = [_rng.getrandbits(64) for _ in range(256)]


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def normalize_text(col: Column) -> Column:
    """lower → strip non-alphanumerics → collapse whitespace → trim."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


# Cap on tokens fed into shingling/minhash.  A pathological document
# (a 1 GB log file in a web crawl) would otherwise materialize an
# unbounded token array in executor memory; 10k words ≈ 60 KB of text
# is far past the point where a signature is stable, so truncation
# does not change near-dup decisions in practice.
MAX_TOKENS = 10_000


def tokens(col: Column, max_tokens: int = MAX_TOKENS) -> Column:
    t = F.split(normalize_text(col), " ")
    return F.slice(t, 1, max_tokens)


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string>; empty array if < k words.

    NOTE: ``col`` should be a plain column reference, not a deep
    expression — it is referenced k times per shingle inside the
    lambda, and higher-order functions evaluate interpreted (no CSE),
    so an inlined regex-normalization would re-run per element.
    Callers that normalize should materialize the token array first
    (see ``minhash_signatures``).
    """
    t = tokens(col)
    n = F.size(t)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_from_tokens(tok: Column, k: int = 3) -> Column:
    """k-word shingles from a materialized token-array column."""
    n = F.size(tok)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", *[F.element_at(tok, i + j + 1) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical text.

    groupBy on the text works but ships full documents through the
    shuffle; grouping on a 128-bit digest ships 16 bytes per doc and
    is collision-safe at any realistic corpus size — so we aggregate
    on md5 and keep one representative id + one text.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_digest"))
        .agg(F.min(id_col).alias(id_col), F.min(text_col).alias(text_col))
        .drop("_digest")
    )


def normalized_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-exact dedup on normalized text; returns the group key, the
    keeper id, and how many raw docs collapsed into it.

    The normalization is [a-z0-9]-centric; a document with no such
    characters at all (CJK/Cyrillic/emoji-only) normalizes to the
    empty string, and grouping on that would silently collapse every
    non-Latin document into one "duplicate" group — catastrophic data
    loss in a multilingual corpus.  Empty normal forms therefore fall
    back to a per-document key (``#<id>``), making such docs singleton
    groups; a multilingual deployment would swap ``normalize_text``
    for a Unicode-class variant instead.
    """
    norm = normalize_text(F.col(text_col))
    group_key = F.coalesce(
        F.nullif(norm, F.lit("")),
        F.concat(F.lit("#"), F.col(id_col).cast("string")),
    )
    return (
        df.groupBy(group_key.alias("norm_text"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
    )


def _md5_h60(m):
    """Positive 60-bit BIGINT from an md5 hex string (first 15 hex
    chars).  Engine-independent: DuckDB computes the identical value as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``, where xxhash64 exists
    only in Spark.  The md5 hash engine built on this is what upgrades
    the LSH queries from rows-only driver checks to full hash-checked
    oracle rows."""
    return F.conv(F.substring(m, 1, 15), 16, 10).cast("long")


# Two-lane additive digest scheme, shared by wl_refine
# (operators/graph.py) and q192's posting digest: the two largest
# primes below 2^31, with lane 2 keyed by an independent input prefix
# so the lanes collide independently (~2^-62 per pair jointly).  The
# SAME constants are interpolated into both the Spark Column
# expressions and the DuckDB oracle SQL of every consumer, so the
# lanes cannot drift between sites or engines (r10 review).
DIGEST_P1 = 2147483647
DIGEST_P2 = 2147483629
DIGEST_LANE2_KEY = "w2|"

# MinHash permutation family for the md5 engine: Carter–Wegman affine
# maps H_j(h) = (a_j*h + b_j) mod P over the Mersenne prime P = 2^31-1.
# With a_j in [1, P-1] each map is a bijection on Z_P (a genuine
# permutation of the reduced hash space), and every intermediate stays
# below 2^62 — exact int64 arithmetic in Spark, DuckDB, and NumPy
# alike, no overflow wrap anywhere.  Constants are md5-seeded so any
# engine can re-derive them; the DuckDB oracle gets them inlined as
# list literals.
MH_PRIME = (1 << 31) - 1


def mh_affine_consts(num_perm: int = 64) -> tuple[list[int], list[int]]:
    import hashlib

    a = [
        int(hashlib.md5(f"perm-a-{j}".encode()).hexdigest()[:15], 16)
        % (MH_PRIME - 1) + 1
        for j in range(num_perm)
    ]
    b = [
        int(hashlib.md5(f"perm-b-{j}".encode()).hexdigest()[:15], 16) % MH_PRIME
        for j in range(num_perm)
    ]
    return a, b


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 64, shingle_k: int = 3, hash_src: str = "xxhash64",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document, fully in Catalyst.

    One xxhash64 per shingle, then ``num_perm`` keyed xorshift
    permutations (see ``_PERM_KEYS``) reduced with array_min — no UDF,
    no per-row Python.  Deterministic: keys are fixed literals.

    ``hash_src="md5"`` swaps the per-shingle base hash for the
    md5-derived 60-bit int reduced mod P = 2^31-1 and the xorshift
    family for Carter–Wegman affine bijections ``H_j = (a_j*h + b_j)
    mod P`` (md5-seeded constants, see ``mh_affine_consts``) —
    computable bit-identically by the DuckDB oracle, which upgrades
    the LSH queries from rows-only to full hash-checked correctness
    rows.

    Each stage (tokens → shingles → base hashes → signature) is its
    own projection: higher-order lambdas run interpreted with no
    common-subexpression elimination, so if the tokenization were
    inlined it would re-run its regexes once per shingle per
    permutation — O(perms·shingles·|doc|) instead of O(|doc| +
    perms·shingles).  Chained Projects over expensive multiply-used
    aliases are kept separate by Catalyst (CollapseProject's cheap/
    used-once rule), so each stage computes once per row.  A filter
    on the output is kept above them (``_filter_fence``).
    """

    def mix(h, j: int):
        x = h.bitwiseXOR(F.lit(_signed64(_PERM_KEYS[j])))
        x = x.bitwiseXOR(F.shiftrightunsigned(x, 33))
        x = x.bitwiseXOR(F.shiftleft(x, 21))
        return x.bitwiseXOR(F.shiftrightunsigned(x, 17))

    from flink_s3_read_write_spark.sources.io import fan_out

    if shingle_sets is not None:
        # Injected per-doc shingle SETS (id_col, toks) — see the
        # CONTRACT on minhash_dedup_pairs_verified: shingle_k must
        # match.  MinHash is invariant under both dedup and reorder of
        # the shingle list (min over per-element hashes), so signatures
        # off the distinct set equal signatures off the raw multiset.
        shingled = shingle_sets.select(
            F.col(id_col), F.col("toks").alias("_sh")
        )
    else:
        # Signature construction is pure per-row CPU (O(perms·shingles)
        # interpreted HOF arithmetic): spread it across cores when the
        # scan under-splits (no-op at scale — fan_out docstring).
        toked = fan_out(df).select(
            F.col(id_col), tokens(F.col(text_col)).alias("_tok")
        )
        shingled = toked.select(
            F.col(id_col), shingles_from_tokens(F.col("_tok"), shingle_k).alias("_sh")
        )
    if hash_src == "md5":
        # Stage the base hash once per shingle (md5 + reduce mod P);
        # the 64 affine maps then reuse it (same no-recompute staging).
        a, b = mh_affine_consts(num_perm)
        hashed = shingled.select(
            F.col(id_col),
            F.transform(
                F.col("_sh"), lambda s: _md5_h60(F.md5(s)) % F.lit(MH_PRIME)
            ).alias("_hh"),
        )
        sig = F.array(
            *[
                F.array_min(
                    F.transform(
                        F.col("_hh"),
                        lambda h: (F.lit(a[j]) * h + F.lit(b[j])) % F.lit(MH_PRIME),
                    )
                )
                for j in range(num_perm)
            ]
        )
        return _filter_fence(hashed.select(F.col(id_col), sig.alias("minhash")), id_col)
    hashed = shingled.select(
        F.col(id_col),
        F.transform(F.col("_sh"), lambda s: F.xxhash64(s)).alias("_h"),
    )
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_h"), lambda h: mix(h, j)))
            for j in range(num_perm)
        ]
    )
    return _filter_fence(hashed.select(F.col(id_col), sig.alias("minhash")), id_col)


def _filter_fence(sigs: DataFrame, id_col: str) -> DataFrame:
    """``sigs`` behind a Generate, which a filter on ``minhash`` does
    not cross.

    Catalyst pushes a filter through a Project by replacing each alias
    with its definition, down to the scan.  A filter on the signature
    (``minhash_lsh_pairs`` drops all-null ones) thus carried the whole
    signature below the staged projections, with ``tokens()`` inlined
    into the shingle lambda: its regexes re-ran once per shingle, and
    the catalyst engine did not finish sf0.01's 500 documents in 100 s.
    A predicate on a generator's output stays above the Generate, so
    exploding a one-element array keeps the filter on the computed
    column.
    """
    return sigs.select(F.col(id_col), F.explode(F.array("minhash")).alias("minhash"))


def minhash_signatures_numpy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 64, shingle_k: int = 3, hash_src: str = "xxhash64",
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures, vectorized permutation path.

    Bit-identical to ``minhash_signatures`` (asserted in
    tests/test_dedup.py): shingling + xxhash64 stay in Catalyst, but
    the ``num_perm`` keyed xorshift permutations run as ONE NumPy
    uint64 broadcast per document (xor/shift wrap identically to the
    JVM's long ops; the min is taken as signed to match array_min).
    Faster than the interpreted higher-order-function path at sf0.1;
    use this at scale, keep the Catalyst twin as the no-Python
    fallback and cross-check.
    """
    import numpy as np
    import pandas as pd

    from flink_s3_read_write_spark.sources.io import fan_out

    if shingle_sets is not None:
        # Injected per-doc shingle SETS — same min-invariance argument
        # as minhash_signatures (dedup/reorder never changes the min).
        shingled = shingle_sets.select(
            F.col(id_col), F.col("toks").alias("_sh")
        )
    else:
        # Arrow batches inherit the input partitioning: a 1-split scan
        # means ONE Python worker does every signature.  Fan out first
        # (no-op at scale — fan_out docstring).
        toked = fan_out(df).select(
            F.col(id_col), tokens(F.col(text_col)).alias("_tok")
        )
        shingled = toked.select(
            F.col(id_col), shingles_from_tokens(F.col("_tok"), shingle_k).alias("_sh")
        )

    if hash_src == "md5":
        al, bl = mh_affine_consts(num_perm)
        av = np.array(al, dtype=np.int64)[:, None]
        bv = np.array(bl, dtype=np.int64)[:, None]

        def batches_md5(it):
            for pdf in it:
                ids, sigs = [], []
                for doc_id, hs in zip(pdf[id_col], pdf["_hh"]):
                    ids.append(doc_id)
                    if len(hs) == 0:
                        sigs.append([None] * num_perm)
                        continue
                    h = np.asarray(hs, dtype=np.int64)[None, :]
                    # a < 2^31, h < 2^31: a*h + b < 2^63, exact int64.
                    sigs.append(((av * h + bv) % MH_PRIME).min(axis=1).tolist())
                yield pd.DataFrame({id_col: ids, "minhash": sigs})

        hashed = shingled.select(
            F.col(id_col),
            F.transform(
                F.col("_sh"), lambda s: _md5_h60(F.md5(s)) % F.lit(MH_PRIME)
            ).alias("_hh"),
        )
        return hashed.mapInPandas(
            batches_md5, f"{id_col} long, minhash array<bigint>"
        )

    keys = np.array(_PERM_KEYS[:num_perm], dtype=np.uint64)[:, None]

    def batches(it):
        for pdf in it:
            ids, sigs = [], []
            for doc_id, hs in zip(pdf[id_col], pdf["_h"]):
                ids.append(doc_id)
                if len(hs) == 0:
                    sigs.append([None] * num_perm)
                    continue
                h = np.asarray(hs, dtype=np.int64).view(np.uint64)[None, :]
                x = h ^ keys
                x = x ^ (x >> np.uint64(33))
                x = x ^ (x << np.uint64(21))
                x = x ^ (x >> np.uint64(17))
                sigs.append(x.view(np.int64).min(axis=1).tolist())
            yield pd.DataFrame({id_col: ids, "minhash": sigs})

    hashed = shingled.select(
        F.col(id_col),
        F.transform(F.col("_sh"), lambda s: F.xxhash64(s)).alias("_h"),
    )
    return hashed.mapInPandas(batches, f"{id_col} long, minhash array<bigint>")


def _resolve_over_cap(over_cap: str | None,
                      cap_bucket_prepass: bool = False) -> str:
    """Resolve the ``over_cap=None`` sentinel default (ADVICE r14).

    ``None`` means "the production default": ``"ring"``.  History of
    the ``cap_bucket_prepass=True``-without-a-policy idiom (the
    drop-era call shape — the prepass is a drop-only knob): r15 gave
    it a one-round deprecation window (drop semantics + a visible
    warning, so the r14 default flip could not retroactively break a
    previously-valid call); the window closed with ZERO internal warn
    hits (r16, VERDICT r15 item 6), so it is now a hard error like
    the explicit ring+prepass conflict — an ambiguous knob
    combination must surface, not silently pick a policy.  Callers
    name their intent: ``over_cap="drop"`` with the prepass, or no
    prepass for the ring default.
    """
    if over_cap is None:
        if cap_bucket_prepass:
            raise ValueError(
                "cap_bucket_prepass=True without an explicit over_cap "
                "is ambiguous (the prepass is a drop-only knob; the "
                "production default is 'ring') — pass over_cap='drop' "
                "with the prepass, or drop the prepass to adopt the "
                "recall-preserving ring policy")
        return "ring"
    return over_cap


def _check_over_cap(
    over_cap: str, ring_c: int, cap_bucket_prepass: bool = False,
    star_k: int = 1,
) -> None:
    """Shared argument guard for the over-cap policy knobs."""
    if over_cap not in ("drop", "ring"):
        raise ValueError(f"over_cap must be 'drop' or 'ring', got {over_cap!r}")
    if over_cap == "ring" and star_k < 1:
        # star_k=0 would drop the star entirely: the bucket's pair
        # graph becomes a chain of diameter n/ring_c, which one run of
        # ring_c verify-rejected neighbors splits.
        raise ValueError(f"star_k must be >= 1, got {star_k}")
    if over_cap == "ring" and ring_c < 1:
        # ring_c=0 would silently degrade to star-only pairing and
        # lose the documented local robustness of the ring edges.
        raise ValueError(f"ring_c must be >= 1, got {ring_c}")
    if over_cap == "ring" and cap_bucket_prepass:
        # The ring split subsumes the two-pass guard (over-cap rows
        # never reach the collect accumulator), so the prepass knob
        # would be silently dropped by the elif — surface the conflict
        # instead of ignoring one of two explicit requests (ADVICE r13).
        raise ValueError(
            "cap_bucket_prepass=True has no effect with over_cap='ring' "
            "(the default since r14; the ring split already keeps "
            "over-cap rows out of the collect accumulator) — the "
            "prepass is a drop-only knob, pass over_cap='drop' with it")


def _ring_pairs(
    rows: DataFrame, keys: list[str], id_col: str, ring_c: int,
    payload: str | None = None, star_k: int = 1, max_bucket: int = 0,
) -> DataFrame:
    """Candidate pairs of LSH buckets: the RING+STAR pairs of each
    bucket of more than ``max_bucket`` ids (default 0: every bucket),
    and every pair of each other bucket.

    ``rows`` holds one row per (bucket key, id).  Both kinds of pairs
    come from one window pass: one Exchange on the bucket key and one
    sort, so the signature pipeline upstream runs once.  Two branches
    (under-cap and over-cap rows) would each recompute that pipeline:
    the planner reuses no exchange between them.

    ``star_k`` (r14) widens the star: each doc pairs with the
    bucket's ``star_k`` SMALLEST ids instead of just the minimum.
    The knob exists for the measured hub-marginal residual: when one
    over-cap bucket hosts TWO near-dup families (the verify threshold
    sits exactly on a family's copy_0 hub edge), star_k=1 sends every
    star edge to the lower family's min — the upper family's hub edge
    is never emitted and its cluster can split (100x witness: 14/4949
    eligible clusters at q54's 0.9-shingle threshold).  star_k=2
    also pairs each doc with the bucket's 2nd-smallest id, restoring
    the second family's hub at O(n·(ring_c+star_k)) cost.  Default 1
    keeps the r13 topology (and every committed oracle replay)
    byte-identical.

    Over-cap policy for degenerate LSH buckets (r13; VERDICT item):
    dropping a bucket of n near-identical docs bounds cost but
    collapses dedup recall exactly where dedup matters most (the 300x
    stress tier measured q33's candidates 396k → 3.5k as clusters of
    300 blew past the cap).  Instead each doc pairs with (a) its next
    ``ring_c`` successors in ascending-id order (ring — local
    robustness: one verify-rejected doc only breaks the chain at that
    point) and (b) the bucket's MIN id (star).  O(n·(ring_c+1)) pairs
    instead of O(n²).  A pure ring gives the bucket's pair graph
    diameter n/ring_c, which one run of ring_c verify-rejected
    neighbors splits; the star keeps it at diameter ≤ 2.

    The ONE implementation of the topology — MinHash and SimHash both
    call it (review r13).  ``payload`` optionally names a column to
    ride along through the window: the output then also carries
    (``pa``, ``pb``) — each side's payload — so an in-row verify
    (SimHash Hamming) needs no re-join.  Returns (id_a < id_b) rows.

    Memory: the bucket size is a count over the whole window frame,
    which buffers the bucket's partition in the window operator's
    spillable row buffer (small (key, id[, payload]) rows, never
    signatures), and a degenerate bucket sorts in a single task.  The
    members are collected only where that count is at most
    ``max_bucket``; an over-cap bucket collects an empty array, so no
    over-cap bucket is ever materialized as an array.
    """
    from pyspark.sql import Window

    # Rename first, so every window below orders by the same column
    # and the planner sorts once.
    pl = payload is not None
    base = rows.select(*keys, F.col(id_col).alias("_id"),
                       *([F.col(payload).alias("_p")] if pl else []))
    w = Window.partitionBy(*keys).orderBy("_id")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # first()/lead() over the ascending-ordered window (default
    # running frame for first) give the partition minimum and the
    # next-j neighbors on every row; stage them as plain columns
    # first, then build edge structs (HOFs can't hold window exprs).
    sel_cols = [*keys, "_id", F.first("_id").over(w).alias("_f1")]
    if pl:
        sel_cols += ["_p", F.first("_p").over(w).alias("_fp1")]
    # star_k > 1: the s-th smallest id via nth_value over the same
    # running frame (null until s rows are in frame — the id_a < id_b
    # filter below also discards the self-row case).
    for s in range(2, star_k + 1):
        sel_cols.append(F.nth_value("_id", s).over(w).alias(f"_f{s}"))
        if pl:
            sel_cols.append(F.nth_value("_p", s).over(w).alias(f"_fp{s}"))
    for j in range(1, ring_c + 1):
        sel_cols.append(F.lead("_id", j).over(w).alias(f"_l{j}"))
        if pl:
            sel_cols.append(F.lead("_p", j).over(w).alias(f"_lp{j}"))
    sel_cols.append(F.count(F.lit(1)).over(whole).alias("_n"))
    sel = base.select(*sel_cols)

    def edge(aid, bid, apl=None, bpl=None):
        fields = [aid.alias("id_a"), bid.alias("id_b")]
        if pl:
            fields += [apl.alias("pa"), bpl.alias("pb")]
        return F.struct(*fields)

    own_p = F.col("_p") if pl else None
    edges = [edge(F.col(f"_f{s}"), F.col("_id"),
                  F.col(f"_fp{s}") if pl else None, own_p)
             for s in range(1, star_k + 1)]
    for j in range(1, ring_c + 1):
        edges.append(edge(F.col("_id"), F.col(f"_l{j}"),
                          own_p, F.col(f"_lp{j}") if pl else None))
    # A second window over the same partitioning and order (no new
    # exchange or sort) collects an under-cap bucket's members; each row
    # pairs with the larger ones.
    under = F.col("_n") <= max_bucket
    member = F.struct(F.col("_id").alias("i"), *([own_p.alias("p")] if pl else []))
    sel = sel.withColumn("_b", F.collect_list(F.when(under, member)).over(whole))
    pairs = F.transform(
        F.filter("_b", lambda m: m["i"] > F.col("_id")),
        lambda m: edge(F.col("_id"), m["i"], own_p, m["p"] if pl else None))
    emit = F.when(under, pairs).otherwise(F.array(*edges))
    return (
        sel.select(F.explode(emit).alias("e"))
        .filter(F.col("e.id_b").isNotNull()
                & (F.col("e.id_a") < F.col("e.id_b")))
        .select("e.*")
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 64, bands: int = 16, shingle_k: int = 3,
    max_bucket: int = 50, engine: str = "numpy", hash_src: str = "xxhash64",
    shingle_sets: DataFrame | None = None,
    cap_bucket_prepass: bool = False,
    over_cap: str | None = None, ring_c: int = 2, star_k: int = 1,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH on the signature.

    bands=16 × rows=4 over 64 perms ⇒ the classic S-curve with ~50%
    capture at Jaccard ≈ (1/16)^(1/4) ≈ 0.5.
    Output: (id_a, id_b) with id_a < id_b, distinct.

    Pairing is ONE shuffle.  Under the default ``over_cap="ring"`` it
    is the window pass of ``_ring_pairs`` (see there).  Under
    ``"drop"``: group ids per (band, bucket) with
    collect_list, drop degenerate buckets (a bucket of n docs yields
    n² pairs; at scale one boilerplate bucket would dominate the job),
    expand pairs with array ops inside the bucket row.  This replaces
    the window-count + self-join formulation, which cost a sort plus
    two more shuffles of the banded table; the in-array expansion is
    safe precisely because the guard bounds the bucket (≤ max_bucket
    ids ⇒ ≤ max_bucket² struct ops per row, memory-bounded).

    ``cap_bucket_prepass`` (r11 — the callable form of the r10
    collect-state disposition): the default size filter runs AFTER
    collect_list, so one pathological bucket (n near-identical
    boilerplate docs sharing a band key) still materializes an
    n-element array in a single reducer before being dropped —
    quantified at ~80 MB for n = 10M, survivable but not free.  True
    opts into the q80/cap_baskets discipline: a count-only
    pre-aggregate (constant state per group) finds over-cap
    (band, bucket) keys and an UN-HINTED anti-join (planner/AQE
    broadcasts while the degenerate-key set fits — it is
    data-dependent, so no forced hint) drops their rows BEFORE the
    accumulator.  Values are identical either way (over-cap buckets
    emit no pairs on both paths — equivalence-tested on a synthetic
    degenerate bucket); default False keeps the single-shuffle plan.

    ``over_cap`` (r13) picks the policy for buckets past
    ``max_bucket``: ``"ring"`` (DEFAULT since r14 — see the module
    docstring and SCALE.md's DESIGN note) — each doc pairs with its
    next ``ring_c`` bucket-neighbors in ascending-id order plus the
    bucket's min id (O(n·(ring_c+1)) pairs, bucket connectivity at
    diameter ≤ 2; see ``_ring_pairs``, which also emits the under-cap
    buckets' pairs in the same window pass) — or ``"drop"`` (legacy
    opt-out: no
    pairs, bounded cost, recall loss on degenerate clusters).
    ``"ring"`` subsumes the two-pass guard (over-cap rows never
    reach the collect accumulator), so combining it with
    ``cap_bucket_prepass=True`` raises rather than silently dropping
    one of two explicit requests (ADVICE r13); the prepass is a
    drop-only knob — pass ``over_cap="drop"`` with it.
    """
    over_cap = _resolve_over_cap(over_cap, cap_bucket_prepass)
    _check_over_cap(over_cap, ring_c, cap_bucket_prepass, star_k)
    rows_per_band = num_perm // bands
    sig_fn = minhash_signatures_numpy if engine == "numpy" else minhash_signatures
    sigs = sig_fn(df, text_col, id_col, num_perm, shingle_k, hash_src,
                  shingle_sets=shingle_sets)
    # Docs too short to shingle (< k words) have all-null signatures;
    # without this filter they would ALL share the hash-of-nulls band
    # bucket and pair with each other.  Sub-shingle docs are handled by
    # exact/normalized dedup, not minhash.
    sigs = sigs.filter(F.element_at("minhash", 1).isNotNull())

    # Every band key from ONE SQL expression: built Column by Column,
    # the per-band structs cost about 200 py4j calls, 0.2 s of driver
    # time per call.  Band b hashes slots b*r+1 .. b*r+r.
    r = rows_per_band
    if hash_src == "md5":
        # Bucket on the raw slot tuple, not a hash of it: a (2^-64)
        # band_hash collision would merge two buckets and perturb the
        # candidate set / bucket cap vs the DuckDB oracle's exact
        # tuple grouping.  Array group keys shuffle 4 bigints instead
        # of 1 — negligible, and the semantics are collision-free.
        key = f"slice(minhash, b * {r} + 1, {r})"
    else:
        key = "xxhash64({})".format(", ".join(
            f"element_at(minhash, b * {r} + {j})" for j in range(1, r + 1)))
    banded = sigs.select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> named_struct('band', b, 'band_hash', {key}))"
        )).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")
    if over_cap == "ring":
        return _ring_pairs(banded, ["band", "band_hash"], id_col, ring_c,
                           star_k=star_k, max_bucket=max_bucket).distinct()
    if cap_bucket_prepass:
        over = (
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band", "band_hash")
        )
        banded = banded.join(over, ["band", "band_hash"], "left_anti")
    bucketed = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    ids = F.col("ids")
    pairs = bucketed.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids,
                    lambda x, i: F.transform(
                        F.slice(ids, i + 2, F.size(ids)),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def jaccard_sets(ta: Column, tb: Column) -> Column:
    """Jaccard of two DISTINCT element-array columns (empty-union
    convention: 0.0).  The single source of truth for the set-level
    formula — jaccard_tokens and the registry's set-side consumers
    (q32) delegate here so the empty-union convention can never
    drift between call sites."""
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    union = F.size(F.array_union(ta, tb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Token-set Jaccard of two texts (distinct word sets)."""
    return jaccard_sets(F.array_distinct(tokens(a)), F.array_distinct(tokens(b)))


def minhash_dedup_pairs_verified(
    df: DataFrame, threshold: float = 0.6, *,
    verify_on: str = "tokens",
    threshold_frac: tuple[int, int] | None = None,
    cand: DataFrame | None = None,
    toks: DataFrame | None = None,
    scores: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """LSH candidates re-verified with exact Jaccard ≥ threshold.

    The expensive exact check runs only on LSH survivors — the whole
    point of the banding at scale.

    ``verify_on`` picks the set the exact Jaccard runs over:
    ``"tokens"`` (word sets — order-insensitive, the looser check) or
    ``"shingles"`` (the same k-word shingle sets the MinHash signature
    is built from — order-sensitive, and the representation for which
    the LSH S-curve recall guarantee actually holds).
    ``threshold_frac=(num, den)`` replaces the double comparison with
    exact integer cross-multiplication (|∩|·den ≥ |∪|·num), removing
    any float-boundary ambiguity for rational thresholds.

    ``cand`` / ``toks`` (r08) let callers inject precomputed candidate
    pairs (``id_a``, ``id_b``) and per-doc comparison sets (``id_col``,
    ``toks``) — the shared-cached-builder hook: several registry
    queries verify against DIFFERENT thresholds over the SAME
    signature→banding→bucket pipeline, and passing the one cached
    candidate table here means that pipeline runs once per session
    instead of once per query (the exact CacheManager pattern of
    queries_graph.basket_pairs).  Semantics are unchanged: defaults
    rebuild both inputs from ``df`` as before.

    CONTRACT (ADVICE r08): injected ``cand``/``toks`` are trusted —
    they MUST have been built with the same ``hash_src`` / banding /
    ``shingle_k`` as the kwargs passed here, or the verified pair set
    silently reflects a different LSH family.  Callers should derive
    both from one shared parameter dict (``queries_llmdata.
    MINHASH_KW`` is the registry's single source of truth).

    ``scores`` (r16) injects the pre-threshold verify-score table —
    ``minhash_verify_scores`` output, the shared-cached-builder hook
    one level above ``cand``/``toks``: the expensive candidate⋈sets
    join with the exact |∩|/|∪| counts runs once per session when two
    registry queries verify the SAME (cand, toks) under different
    threshold forms (q208's double compare vs q210's integer
    cross-multiplication).  Each caller's own threshold predicate
    still runs verbatim over the exact integer counts, so outputs are
    bit-identical to the uninjected path.  Same trust contract as
    ``cand``/``toks``.
    """
    if scores is None:
        scores = minhash_verify_scores(
            df, verify_on=verify_on, cand=cand, toks=toks, **kwargs
        )
    inter_n = F.col("_in")
    union_n = F.col("_un")
    jac = F.when(union_n > 0, inter_n.cast("double") / union_n.cast("double")).otherwise(
        F.lit(0.0)
    )
    if threshold_frac is not None:
        num, den = threshold_frac
        keep = (union_n > 0) & (inter_n * F.lit(den) >= union_n * F.lit(num))
    else:
        keep = jac >= threshold
    return scores.filter(keep).select("id_a", "id_b", jac.alias("jaccard"))


def minhash_verify_scores(
    df: DataFrame, *,
    verify_on: str = "tokens",
    cand: DataFrame | None = None,
    toks: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Exact per-candidate-pair set counts: (id_a, id_b, _in, _un).

    The verify stage of ``minhash_dedup_pairs_verified`` WITHOUT the
    threshold filter — the candidates⋈comparison-sets join plus the
    exact intersection/union sizes, which is the whole cost of the
    verify.  Split out (r16) so a session can cache it once and apply
    several different threshold predicates over the same exact
    integer counts.  ``cand``/``toks`` carry the r08 injection
    contract documented on ``minhash_dedup_pairs_verified``.
    """
    id_col = kwargs.get("id_col", "doc_id")
    text_col = kwargs.get("text_col", "text")
    if cand is None:
        cand = minhash_lsh_pairs(df, **kwargs)
    # Tokenize each document ONCE (n docs), not once per candidate side
    # (2·n_pairs) — the regex normalization is the expensive part and a
    # doc can appear in many candidate pairs.
    from flink_s3_read_write_spark.sources.io import fan_out

    if toks is not None:
        pass
    elif verify_on == "shingles":
        shingle_k = kwargs.get("shingle_k", 3)
        # Two staged projections, NOT one inline expression: the shingle
        # lambda references its token array k times per element, and
        # higher-order functions evaluate interpreted with no CSE — an
        # inline tokens() would re-run the normalize regexes O(k·shingles)
        # times per doc (measured 15x slower at sf0.1).  Same staging as
        # minhash_signatures.
        toked = fan_out(df).select(F.col(id_col), tokens(F.col(text_col)).alias("_tok"))
        toks = toked.select(
            F.col(id_col),
            F.array_distinct(
                shingles_from_tokens(F.col("_tok"), shingle_k)
            ).alias("toks"),
        )
    else:
        toks = fan_out(df).select(
            F.col(id_col), F.array_distinct(tokens(F.col(text_col))).alias("toks")
        )
    joined = (
        cand.join(
            toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a")), "id_a"
        ).join(
            toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b")), "id_b"
        )
    )
    return joined.select(
        "id_a", "id_b",
        F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
        .cast("long").alias("_in"),
        F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
        .cast("long").alias("_un"),
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 20, id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Cluster ids for the near-duplicate pair graph: every vertex gets
    the minimum id of its connected component.

    This is the standard last step of web-scale dedup — LSH emits
    *pairs*, but keep/drop decisions need *clusters* (A~B, B~C ⇒ keep
    one of {A,B,C}).

    Algorithm: the alternating large-star / small-star steps of Kiveris
    et al., "Connected Components in MapReduce and Beyond" (SoCC 2014),
    with m(u) = min(u, neighbors of u).  Each step rewires the edge set
    and keeps every component connected:

    - large-star: each vertex u links each of its larger neighbors to
      m(u);
    - small-star: each vertex v links itself and each of its smaller
      neighbors to the least of them.

    The fixpoint is a star forest centered on each component's minimum,
    reached in O(log n) steps (O(log² n) proven).  In a Python model of
    these rounds, paths of up to 3000 vertices with shuffled ids took
    at most ⌈log2 n⌉ rounds; label propagation needs one round per hop
    of the graph's diameter, and label propagation with pointer jumping
    still needed hundreds of rounds on a 1000-vertex shuffled path.

    Round 1 is a large-star over ``pairs``; each later round is a
    small-star then a large-star.  A round is ONE action: its edges are
    checkpointed eagerly, and ``DataFrame.observe`` on that checkpoint
    counts the vertices that still break the star-forest shape (two
    smaller neighbors, or a smaller and a larger one), so no probe job
    runs and the round that reaches the fixpoint is the last.  Each
    round moves the edge table through two exchanges keyed by vertex.

    Input: undirected edges (id_a, id_b).  Output: (id, cluster_id) for
    every vertex appearing in any edge, where cluster_id = min vertex
    id of its component.  Raises ``RuntimeError`` if ``max_iter``
    rounds end short of the fixpoint, instead of returning labels that
    are not component minima.

    The checkpoint's plan statistics are the round plan's estimate
    from before it ran, so the output carries a broadcast hint when the
    counted labels fit ``spark.sql.autoBroadcastJoinThreshold`` (at 24
    bytes a row, the planner's own row size for two longs): the join
    back to the documents then broadcasts them, as it would from exact
    statistics.

    Checkpoint durability (r17, VERDICT r16 #3): when the session has
    a checkpoint directory configured (``sc.setCheckpointDir``), each
    round uses RELIABLE ``checkpoint()`` —
    on a real cluster an executor loss mid-loop then recomputes from
    checkpointed state instead of killing the job.  Without one it
    falls back to ``localCheckpoint`` (executor-local blocks), the
    right trade in local mode where executor==driver and reliable
    checkpointing would just pay an extra write to disk.
    """
    from pyspark.sql import Observation, Window

    spark = pairs.sparkSession
    try:
        reliable = spark.sparkContext.getCheckpointDir() is not None
    except Exception:
        reliable = False
    src, dst, mn = F.col("src"), F.col("dst"), F.col("mn")

    def undirected(df: DataFrame, a: Column, b: Column) -> DataFrame:
        # Both orientations of each (a, b) edge, distinct, partitioned
        # by ``src``, with src's least neighbor ``mn`` and whether src
        # breaks the star-forest shape.  Self-loops ride along: they
        # keep a loop-only vertex in the output and change neither
        # least(src, mn) nor ``bad``.
        w = Window.partitionBy("src")
        e = df.select(F.explode(F.array(
            F.struct(a.alias("src"), b.alias("dst")),
            F.struct(b.alias("src"), a.alias("dst")),
        )).alias("e")).select("e.*").repartition("src").distinct()
        least = F.min(dst).over(w)
        bad = (F.count(F.when(dst < src, 1)).over(w) > 1) | (
            (least < src) & (F.max(dst).over(w) > src))
        return e.select(src, dst, least.alias("mn"), bad.alias("bad"))

    g = undirected(pairs, F.col(id_a), F.col(id_b))
    for r in range(max_iter):
        if r:
            # small-star: least(src, mn) is the least of src and its
            # smaller neighbors.
            g = undirected(g.filter(dst <= src).select(
                F.explode(F.array(src, dst)).alias("v"),
                F.least(src, mn).alias("m"),
            ), F.col("v"), F.col("m"))
        # large-star
        g = undirected(g.filter(dst >= src), dst, F.least(src, mn))
        obs = Observation()
        g = g.observe(obs, F.count(F.when(F.col("bad"), 1)).alias("bad"),
                      F.count(F.when(dst == mn, 1)).alias("n"))
        g = g.checkpoint(eager=True) if reliable else g.localCheckpoint(eager=True)
        seen = obs.get
        if seen["bad"] == 0:
            labels = g.filter(dst == mn).select(
                src.alias("id"), F.least(src, mn).alias("cluster_id"))
            limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
            return labels.hint("broadcast") if 0 <= seen["n"] * 24 <= limit else labels
    raise RuntimeError(
        f"connected_components: no fixpoint after max_iter={max_iter} rounds")


def dedup_keep_list(
    df: DataFrame, threshold: float = 0.6, text_col: str = "text", id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """End-to-end near-dedup: MinHash LSH pairs → verify → clusters →
    one keeper (min id) per cluster.  Output: (doc_id, cluster_id,
    keep) for every document; singletons keep themselves.  The
    clustering runs ``connected_components``' O(log n) rounds, so its
    cost does not depend on how deep the verified clusters chain."""
    pairs = minhash_dedup_pairs_verified(
        df, threshold=threshold, text_col=text_col, id_col=id_col, **kwargs
    )
    clusters = connected_components(pairs)
    all_ids = df.select(F.col(id_col))
    labeled = (
        all_ids.join(clusters, all_ids[id_col] == clusters.id, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return labeled.withColumn("keep", F.col(id_col) == F.col("cluster_id"))


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_src: str = "xxhash64", tok: DataFrame | None = None,
) -> DataFrame:
    """64-bit SimHash per document, pure Catalyst.

    Per token: xxhash64 → for each bit, +1/−1 vote; document hash =
    sign bits of the 64 vote sums.  One shuffle keyed by doc id
    (pre-aggregated map-side), no UDF.

    The votes are SWAR-packed (r08): instead of ``nbits`` conditional
    ``SUM(CASE ...)`` aggregates (a 60/64-wide agg whose driver-side
    plan build alone cost ~1.5 s and whose update path is one branch
    per bit per token), each group of 4 hash bits packs into 14-bit
    lanes of ONE long via a spread-multiply —

        x = (h >>> 4g) & 15                  # the group's 4 bits
        packed = (x * SPREAD) & LANE_MASK    # bit j → bit 14·j

    where SPREAD = 1 + 2^13 + 2^26 + 2^39 places a copy of bit j at
    position 13k + j for k = 0..3 (all 16 positions distinct since
    j, k < 4 < 13), and LANE_MASK = 1 + 2^14 + 2^28 + 2^42 keeps
    exactly the j-th bit of the j-th copy, i.e. position 14j.
    Summing the packed longs advances the four set-bit counters in
    parallel; a lane never carries into its neighbor because per-doc
    token counts are capped at MAX_TOKENS = 10 000 < 2^14.  The
    +1/−1 vote sum is recovered as v_i = 2·cnt_i − n (n = doc token
    count), so the sign test "v_i > 0" becomes "2·cnt_i > n" —
    bit-identical to the unpacked form.  Aggregate width drops 4×
    (16 longs + a count for 64 bits) and the per-token update is 4
    ALU ops per 4 bits instead of 4 branches.  x·SPREAD < 2^44: no
    signed-overflow anywhere.

    ``hash_src="md5"`` votes over the 60-bit md5-derived token hash
    instead — a 60-bit SimHash whose bits DuckDB can recompute
    exactly, making the near-pair query fully oracle-checkable.

    ``tok`` (r09) injects a precomputed exploded token frame
    (``id_col``, ``tok: string``) — the shared-cached-builder hook
    (see minhash_dedup_pairs_verified's CONTRACT): it must be exactly
    ``explode(tokens(text))`` per doc, e.g. derived from
    ``queries_llmdata.doc_tokens``.
    """
    from flink_s3_read_write_spark.sources.io import fan_out

    if tok is None:
        # Tokenize + hash + pack is per-row CPU bounded by the scan's
        # split count: fan out first (no-op at scale — fan_out docstring).
        tok = fan_out(df).select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
        )
    if hash_src == "md5":
        h = _md5_h60(F.md5("tok"))
        nbits = 60
    else:
        h = F.xxhash64("tok")
        nbits = 64
    # Stage the token hash once — the pack expressions reference it
    # once per 4-bit group and interpreted fallbacks have no CSE.
    hashed = tok.select(F.col(id_col), h.alias("_h"))

    def bit_i(i: int) -> int:
        # bit 63 as a signed-64 literal (1 << 63 overflows LongType)
        return (1 << i) if i < 63 else -(1 << 63)

    spread = 1 + (1 << 13) + (1 << 26) + (1 << 39)
    lane_mask = 1 + (1 << 14) + (1 << 28) + (1 << 42)
    ngroups = (nbits + 3) // 4
    packs = [
        F.sum(
            (
                F.shiftrightunsigned(F.col("_h"), 4 * g).bitwiseAND(F.lit(15))
                * F.lit(spread)
            ).bitwiseAND(F.lit(lane_mask))
        ).alias(f"s{g}")
        for g in range(ngroups)
    ]
    agg = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *packs)
    n = F.col("_n")
    bits = None
    for i in range(nbits):
        cnt = F.shiftrightunsigned(F.col(f"s{i // 4}"), 14 * (i % 4)).bitwiseAND(
            F.lit((1 << 14) - 1)
        )
        term = F.when(cnt * 2 > n, F.lit(bit_i(i))).otherwise(F.lit(0))
        bits = term if bits is None else bits.bitwiseOR(term)
    return agg.select(F.col(id_col), bits.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int = 1000, hash_src: str = "xxhash64",
    tok: DataFrame | None = None,
    cap_bucket_prepass: bool = False,
    over_cap: str | None = None, ring_c: int = 2, star_k: int = 1,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split 64 bits into 4 × 16-bit keys (4 × 15 for
    the 60-bit md5 engine); any pair within Hamming 3 shares at least
    one key, so candidates come from equi-buckets — never an O(n²)
    cross join.  Pair expansion uses the same one-shuffle
    collect-per-bucket scheme as ``minhash_lsh_pairs`` (struct of
    id+simhash so the Hamming check runs in-row), with a generous
    bucket cap against degenerate band-key collisions.

    ``cap_bucket_prepass`` opts into the two-pass over-cap guard
    (count-only pre-aggregate + un-hinted anti-join ahead of the
    collect accumulator) — see ``minhash_lsh_pairs`` for the contract;
    it is a drop-only knob (pass ``over_cap="drop"`` with it); values
    are identical on both drop paths, default False keeps the
    single-shuffle plan.

    ``over_cap="ring"`` (r13; the DEFAULT since r14 — SCALE.md DESIGN
    note): over-cap buckets emit ring+star candidates (each doc vs
    its next ``ring_c`` bucket-neighbors by id, plus the bucket's min
    id) instead of nothing — same policy and plan shape as
    ``minhash_lsh_pairs``, with the simhash carried through the
    window so the Hamming verify still runs in-row.  Ring pairs face
    the SAME ``max_hamming`` filter as bucket pairs.

    ``sig`` (r16) injects a precomputed signature frame (``id_col``,
    ``simhash: long``) — the shared-cached-builder hook, same
    CONTRACT as ``cand``/``toks`` on minhash_dedup_pairs_verified: it
    must equal ``simhash(df, text_col, id_col, hash_src, tok=...)``
    under the SAME hash engine, e.g. ``queries_llmdata.doc_simhash``.
    Several registry queries band the same signature table under
    different bucket knobs; injecting the one cached table means the
    tokenize→hash→vote aggregation runs once per session, not once
    per query.  Bit-identical output either way (asserted in
    tests/test_dedup.py).
    """
    over_cap = _resolve_over_cap(over_cap, cap_bucket_prepass)
    _check_over_cap(over_cap, ring_c, cap_bucket_prepass, star_k)
    sh = sig if sig is not None else simhash(df, text_col, id_col, hash_src, tok=tok)
    part_bits = 15 if hash_src == "md5" else 16
    mask = (1 << part_bits) - 1
    parts = [
        F.shiftrightunsigned(F.col("simhash"), part_bits * p)
        .bitwiseAND(F.lit(mask))
        .alias("k")
        for p in range(4)
    ]
    banded = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[F.struct(F.lit(p).alias("p"), parts[p]) for p in range(4)])).alias("b"),
    ).select(id_col, "simhash", "b.p", "b.k")
    if over_cap == "ring":
        # Shared bucket topology with the simhash riding along as the
        # window payload, so Hamming verifies in-row (no re-join).
        pairs = _ring_pairs(
            banded, ["p", "k"], id_col, ring_c, payload="simhash",
            star_k=star_k, max_bucket=max_bucket,
        ).select(
            "id_a", "id_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
        )
        return pairs.filter(F.col("hamming") <= max_hamming).distinct()
    if cap_bucket_prepass:
        over = (
            banded.groupBy("p", "k")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("p", "k")
        )
        banded = banded.join(over, ["p", "k"], "left_anti")
    bucketed = (
        banded.groupBy("p", "k")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh")))
            ).alias("xs")
        )
        .filter((F.size("xs") >= 2) & (F.size("xs") <= max_bucket))
    )
    xs = F.col("xs")
    pairs = bucketed.select(
        F.explode(
            F.flatten(
                F.transform(
                    xs,
                    lambda x, i: F.transform(
                        F.slice(xs, i + 2, F.size(xs)),
                        lambda y: F.struct(
                            x["id"].alias("id_a"),
                            y["id"].alias("id_b"),
                            F.bit_count(x["sh"].bitwiseXOR(y["sh"])).alias("hamming"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.hamming")
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()
