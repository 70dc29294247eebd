"""LLM-data-pipeline queries (driver north star): dedup, similarity
search, text analysis, multimodal — over ``documents`` / ``embeddings``.

Oracle notes:
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all default.
- DuckDB ``list_cosine_similarity`` computes in float32; oracles use
  explicit double arithmetic (list_zip/list_transform/list_sum) to
  match Spark's higher-order-function double math bit-for-bit.
- MinHash/SimHash (q33/q34) run the md5 hash engine (dedup.py), whose
  signatures/banding DuckDB replays bit-for-bit → full hash-checked
  oracles.  Ops still built on Spark-only xxhash64 or seeded
  projections (winnowing, ANN LSH/IVF) keep rows-only checks with
  planted-duplicate / recall-floor tests in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_s3_read_write_spark.operators import bpe as B
from flink_s3_read_write_spark.operators import dedup as D
from flink_s3_read_write_spark.operators import multimodal as M
from flink_s3_read_write_spark.operators import similarity as S
from flink_s3_read_write_spark.operators import textstats as T
from flink_s3_read_write_spark.functions.numeric import (
    round9_exact,
)
from flink_s3_read_write_spark.functions.numeric import (
    round9_exact_sql as _R9,
)
from flink_s3_read_write_spark.queries import register
from flink_s3_read_write_spark.sources.io import load_table, shared_builder

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)

# MinHash affine-permutation constants (md5-seeded, engine-independent),
# inlined into the q33 oracle as DuckDB list literals so the oracle
# replays the exact same permutation family as the Spark side.
_MH_A, _MH_B = D.mh_affine_consts(64)
_MH_A_SQL = "[" + ",".join(map(str, _MH_A)) + "]"
_MH_B_SQL = "[" + ",".join(map(str, _MH_B)) + "]"


# ---------------------------------------------------------------------------
# Shared cached builders for the minhash-dedup arc (round 8, the
# queries_graph.basket_pairs pattern).  q33 (pair mining, token-set
# verify >= 0.5) and q54 (keep-list, shingle-set verify >= 0.9) verify
# against different thresholds but over the SAME md5-engine
# signature -> 16x4 banding -> bucket-cap -> candidate pipeline — the
# most expensive stage of both.  Each builder constructs the identical
# analyzed plan on every call, so the plan-keyed CacheManager
# materializes it once per session and substitutes the
# InMemoryRelation into every later consumer.  At 100 TB the candidate
# pair table and the per-doc shingle sets are exactly the
# materializations a dedup pipeline persists between its mining and
# clustering passes.  Correctness runs (tools/check.py, the driver)
# clear the cache per query, so each query stays independently
# verified against its oracle.
# ---------------------------------------------------------------------------


# The ONE parameter set for the whole arc: builders AND consumer
# kwargs both derive from it, so an injected cand/toks can never be
# built under a different hash engine / shingle width than the
# consumer believes it is verifying with (ADVICE r08).  Change it
# here and every oracle's _MH_* constants must follow.
MINHASH_KW: dict = {"hash_src": "md5", "shingle_k": 3}

# NOTE on cache lifetime: these builders .cache() per call and rely on
# the plan-keyed CacheManager to dedupe.  A long-lived session that
# walks MANY sf_dirs should spark.catalog.clearCache() (or unpersist
# the builder result) between dirs — the bench session uses one
# sf_dir, and correctness runs clear the cache per query, so neither
# accumulates (ADVICE r08).


@shared_builder
def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b) on the md5 engine, cached.

    Signatures build off the shared doc_shingle_sets materialization
    (r09) — MinHash is invariant under set-dedup of the shingle list,
    so the candidate set is unchanged while the tokenize+shingle pass
    is shared with q54's verify stage and q195.

    star_k=2 (r15, ADVICE r14): the production mining/keep-list arc
    (q33 + q54) opts into the widened star so the measured
    hub-marginal ring residual cannot split a cluster here — at 100x
    with q54's 0.9-shingle threshold sitting exactly on the hub edge,
    star_k=1 split 14/4949 eligible clusters and star_k=2 splits 0
    (SCALE.md r14), at O(n·(ring_c+star_k)) per over-cap bucket.
    Inert at gate SF (no bucket exceeds the 50 cap); exercised by the
    degenerate differential corpora and witnessed at 100x/300x.  The
    OPERATOR default stays star_k=1 (defended in SCALE.md r14); this
    is the production-composite opt-in the knob was built for.
    """
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, **MINHASH_KW, star_k=2,
        shingle_sets=doc_shingle_sets(spark, sf_dir)
    ).cache()


@shared_builder
def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w: array<string>) tokenized corpus, cached (r09).

    The normalize+tokenize regex pass is the single most repeated
    stage of the text family — shingle sets (q33/q54/q195 via
    doc_shingle_sets), boilerplate n-grams (q68), the inverted index
    (q192), PMI bigrams (q200), and skipgram windows (q202) all start
    from the same per-doc word array.  One cached materialization
    serves every grain; at 100 TB this is the tokenized-corpus table
    a pipeline persists next to the raw text (tokens-in-parquet), and
    the session cache is its in-memory analogue.
    """
    from flink_s3_read_write_spark.sources.io import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", D.tokens(F.col("text")).alias("w")).cache()


@shared_builder
def doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct MINHASH_KW['shingle_k']-word shingle set per doc, cached.

    Derives from the cached doc_tokens materialization — HOFs evaluate
    interpreted with no CSE, so the shingle lambda must read a
    MATERIALIZED token array (here: the InMemoryRelation), never an
    inline tokens() expression that would re-run its regexes per
    shingle.
    """
    toked = doc_tokens(spark, sf_dir)
    return toked.select(
        "doc_id",
        F.array_distinct(
            D.shingles_from_tokens(F.col("w"), MINHASH_KW["shingle_k"])
        ).alias("toks"),
    ).cache()


@shared_builder
def doc_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct token SET per doc — the token-grain verify sets, cached (r16).

    Exactly ``array_distinct(tokens(text))``, the frame
    minhash_dedup_pairs_verified rebuilds from raw text whenever
    ``verify_on="tokens"`` and no ``toks`` is injected.  Four registry
    queries (q33/q208/q210/q212) verify at the token grain, and before
    r16 each re-ran the normalize+tokenize regex pass per query;
    deriving from the cached doc_tokens table makes the marginal cost
    one array_distinct projection.  Values are identical by
    construction (same Catalyst expressions over the same rows)."""
    return doc_tokens(spark, sf_dir).select(
        "doc_id", F.array_distinct("w").alias("toks")
    ).cache()


@shared_builder
def ring_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q208/q210 shared LSH candidate pipeline, cached (r16).

    The forced-over-cap knob set (max_bucket=2, over_cap="ring",
    ring_c=2) under the production 16x4 banding: q208 emits the
    verified pairs and q210 the keep-list composite of the SAME
    candidate set, and before r16 each rebuilt the full signature →
    banding → split → ring pipeline.  Same CacheManager discipline as
    minhash_candidates (q33/q54)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, **MINHASH_KW,
        max_bucket=2, over_cap="ring", ring_c=2,
        shingle_sets=doc_shingle_sets(spark, sf_dir),
    ).cache()


@shared_builder
def ring_verify_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q208/q210 shared verify-score table, cached (r16 wave 2).

    The candidates⋈token-sets join with exact |∩|/|∪| counts over the
    shared ring_candidates — the dominant cost of BOTH queries after
    the candidate pipeline is shared.  q208 filters it with the double
    compare and q210's keep-list with the integer cross-multiplication;
    both predicates run verbatim over the same exact counts, so each
    query's output is unchanged (dedup.minhash_dedup_pairs_verified
    ``scores`` hook)."""
    return D.minhash_verify_scores(
        load_table(spark, sf_dir, "documents"),
        cand=ring_candidates(spark, sf_dir),
        toks=doc_token_sets(spark, sf_dir),
    ).cache()


@shared_builder
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5-engine SimHash signature per doc, cached (r16).

    The tokenize → md5-hash → SWAR vote aggregation is the dominant
    cost of both SimHash queries (q34, q209); they differ only in the
    banding bucket cap, which applies strictly AFTER the signature, so
    one cached signature table serves both (the ``sig`` injection hook
    on dedup.simhash_near_pairs — bit-identity with the uninjected
    path is asserted in tests/test_dedup.py)."""
    return D.simhash(
        load_table(spark, sf_dir, "documents"),
        hash_src="md5",
        tok=doc_tokens(spark, sf_dir).select(
            "doc_id", F.explode("w").alias("tok")
        ),
    ).cache()


@register(
    "q30_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, text
    FROM documents
    GROUP BY text
    """,
    doc="Exact dedup keyed on content digest; keeps smallest doc_id per text.",
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "q31_dedup_normalized",
    oracle=f"""
    SELECT coalesce(nullif({_NORM_SQL.format(c='text')}, ''),
                    '#' || CAST(doc_id AS VARCHAR)) AS norm_text,
           min(doc_id) AS doc_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
    doc=(
        "Near-exact dedup on normalized text (lower/strip-punct/"
        "collapse-ws); empty normal forms (non-Latin docs) stay "
        "singleton groups instead of collapsing together."
    ),
)
def q31_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.normalized_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "q32_ngram_jaccard_pairs",
    oracle=f"""
    WITH norm AS (
      -- list_slice mirrors the Spark side's MAX_TOKENS=10000 cap (dedup.tokens)
      SELECT doc_id,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '), 1, 10000) AS toks
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
                THEN CAST(len(list_intersect(list_distinct(a.toks), list_distinct(b.toks))) AS DOUBLE)
                     / len(list_distinct(list_concat(a.toks, b.toks)))
                ELSE 0.0 END AS jaccard
    FROM norm a JOIN norm b ON b.doc_id = a.doc_id + 1
    """,
    doc="Exact token-set Jaccard between adjacent doc pairs (array ops, no UDF).",
)
def q32_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distinct token sets come from the shared cached doc_tokens table
    # — the inline jaccard_tokens(text_a, text_b) form would re-run
    # the tokenize regexes on BOTH sides of every pair.
    t = doc_tokens(spark, sf_dir)
    a = t.select(F.col("doc_id").alias("id_a"), F.array_distinct("w").alias("_ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.array_distinct("w").alias("_tb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a", "id_b",
        D.jaccard_sets(F.col("_ta"), F.col("_tb")).alias("jaccard")
    )


@register(
    "q33_minhash_dedup_pairs",
    # Full oracle since round 5: the per-shingle base hash is md5-derived
    # (first 15 md5 hex chars mod P, P = 2^31-1) and the 64 permutations
    # are Carter–Wegman affine bijections (a_j*h + b_j) mod P with
    # md5-seeded constants (dedup.mh_affine_consts, inlined below as list
    # literals) — pure int64 arithmetic DuckDB reproduces bit-for-bit, so
    # the oracle recomputes the ENTIRE pipeline (signatures → 16x4
    # banding → bucket cap → candidates → exact-Jaccard verify), not just
    # the verify step.  The S-curve recall (~64% at J=0.5) is therefore
    # identical on both sides by construction.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS s
      FROM (SELECT doc_id,
                   list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                              1, 10000) AS toks
            FROM documents) t
    ),
    hh AS (
      SELECT doc_id,
             list_transform(s, g -> (('0x' || substr(md5(g), 1, 15))::BIGINT)
                                    % 2147483647) AS hh
      FROM sh WHERE len(s) > 0
    ),
    -- Relational min-per-permutation (unnest x 64-row perm table,
    -- GROUP BY min) instead of nested list_transform/list_aggregate:
    -- DuckDB vectorizes the flat aggregate ~150x faster than the
    -- per-element lambda that re-indexed the 64-literal lists.
    sig AS (
      SELECT doc_id, list(mh ORDER BY j) AS sig FROM (
        SELECT u.doc_id, p.j, MIN((p.a * u.h + p.b) % 2147483647) AS mh
        FROM (SELECT doc_id, unnest(hh) AS h FROM hh) u
        CROSS JOIN (SELECT j, ({_MH_A_SQL})[j + 1] AS a,
                           ({_MH_B_SQL})[j + 1] AS b
                    FROM range(0, 64) t(j)) p
        GROUP BY u.doc_id, p.j) m
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b, list_slice(sig, b * 4 + 1, b * 4 + 4) AS key
      FROM sig, range(0, 16) t(b)
    ),
    bsz AS (SELECT b, key, COUNT(*) AS n FROM banded GROUP BY b, key),
    -- Over-cap buckets (n > 50) replay the ring+star policy at the
    -- PRODUCTION composite setting: over_cap="ring" (the default
    -- since r14) WIDENED to star_k=2 (r15, via minhash_candidates) —
    -- each doc pairs with its next ring_c=2 id-order neighbors plus
    -- the bucket's TWO smallest ids (first_value + nth_value(2), the
    -- hub-marginal-residual fix).  Inert at gate SF (max bucket 3 at
    -- sf0.01 / 4 at sf0.1) but load-bearing on degenerate corpora —
    -- exercised by tests/test_fuzz_differential.py's forced-degenerate
    -- corpora and the 100x/300x witness tier.
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x
      JOIN banded y ON y.b = x.b AND y.key = x.key AND y.doc_id > x.doc_id
      JOIN bsz ON bsz.b = x.b AND bsz.key = x.key AND bsz.n <= 50
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 1) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 50) r1
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 2) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 50) r2
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT first_value(b2.doc_id) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 50) s1
      WHERE id_a < id_b
      UNION
      SELECT id_a, id_b FROM (
        SELECT nth_value(b2.doc_id, 2) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 50) s2
      WHERE id_a IS NOT NULL AND id_a < id_b
    ),
    tok AS (
      SELECT doc_id,
             list_distinct(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                      1, 10000)) AS tk
      FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT c.id_a, c.id_b,
             CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) > 0
                  THEN CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.tk, b.tk)))
                  ELSE 0.0 END AS jaccard
      FROM cand c
      JOIN tok a ON a.doc_id = c.id_a
      JOIN tok b ON b.doc_id = c.id_b) v
    WHERE jaccard >= 0.5
    """,
    doc=(
        "MinHash(64 perms) + 16-band LSH candidates, re-verified with exact "
        "token Jaccard >= 0.5. Catalyst-only: shingle/hash/band via "
        "higher-order functions; over-cap buckets take the ring+star "
        "policy widened to star_k=2 (never O(n^2), never recall-zero, "
        "and immune to the measured hub-marginal split). md5-derived "
        "double-hash permutation family so the DuckDB oracle replays "
        "signatures, banding, and both star branches exactly."
    ),
)
def q33_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs_verified(
        docs, threshold=0.5, **MINHASH_KW,
        cand=minhash_candidates(spark, sf_dir),
        toks=doc_token_sets(spark, sf_dir),
    )


@register(
    "q208_minhash_ring_overcap",
    # q33's pipeline under the r13 recall-preserving over-cap policy
    # (`dedup.minhash_lsh_pairs(over_cap="ring")`): buckets past
    # max_bucket emit ring+star candidates — each doc vs its next
    # ring_c bucket-neighbors in ascending-id order PLUS the bucket's
    # min id — instead of nothing, so degenerate duplicate clusters
    # stay connected (diameter ≤ 2 via the star edges) for the
    # downstream connected-components pass, at O(n·(ring_c+1))
    # cost.  max_bucket=2 is
    # deliberately tiny so the over-cap path EXECUTES at gate SF
    # (measured bucket sizes reach 3 at sf0.01 / 4 at sf0.1); the
    # production knob stays 50, and since r14 ring IS the production
    # default (q33's oracle replays it too).  The oracle
    # replays the whole pipeline like q33's, with the ring branch as
    # window leads over over-cap buckets — bit-for-bit the same
    # candidate set by construction.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS s
      FROM (SELECT doc_id,
                   list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                              1, 10000) AS toks
            FROM documents) t
    ),
    hh AS (
      SELECT doc_id,
             list_transform(s, g -> (('0x' || substr(md5(g), 1, 15))::BIGINT)
                                    % 2147483647) AS hh
      FROM sh WHERE len(s) > 0
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY j) AS sig FROM (
        SELECT u.doc_id, p.j, MIN((p.a * u.h + p.b) % 2147483647) AS mh
        FROM (SELECT doc_id, unnest(hh) AS h FROM hh) u
        CROSS JOIN (SELECT j, ({_MH_A_SQL})[j + 1] AS a,
                           ({_MH_B_SQL})[j + 1] AS b
                    FROM range(0, 64) t(j)) p
        GROUP BY u.doc_id, p.j) m
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b, list_slice(sig, b * 4 + 1, b * 4 + 4) AS key
      FROM sig, range(0, 16) t(b)
    ),
    bsz AS (SELECT b, key, COUNT(*) AS n FROM banded GROUP BY b, key),
    cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x
      JOIN banded y ON y.b = x.b AND y.key = x.key AND y.doc_id > x.doc_id
      JOIN bsz ON bsz.b = x.b AND bsz.key = x.key AND bsz.n <= 2
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 1) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) r1
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 2) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) r2
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT first_value(b2.doc_id) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) s
      WHERE id_a < id_b
    ),
    tok AS (
      SELECT doc_id,
             list_distinct(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                      1, 10000)) AS tk
      FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT c.id_a, c.id_b,
             CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) > 0
                  THEN CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.tk, b.tk)))
                  ELSE 0.0 END AS jaccard
      FROM cand c
      JOIN tok a ON a.doc_id = c.id_a
      JOIN tok b ON b.doc_id = c.id_b) v
    WHERE jaccard >= 0.5
    """,
    doc=(
        "MinHash LSH near-dup pairs with the recall-preserving "
        "ring+star policy for over-cap buckets: O(n*(ring_c+1)) "
        "window-lead + bucket-min pairs keep degenerate clusters "
        "connected (diameter <= 2) instead of dropping them; "
        "max_bucket=2 forces the path at gate SF."
    ),
)
def q208_minhash_ring_overcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs_verified(
        docs, threshold=0.5, **MINHASH_KW,
        scores=ring_verify_scores(spark, sf_dir),
    )


@register(
    "q34_simhash_near_pairs",
    # Full oracle since round 5: 60-bit SimHash whose bit votes come from
    # the md5-derived 60-bit token hash — DuckDB recomputes hash, votes,
    # sign bits, 4x15-bit pigeonhole banding, bucket cap, and Hamming
    # verify identically (SUM cast to BIGINT to dodge the HUGEINT
    # pandas-lossy fetch path).
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                               1, 10000)) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    votes AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, range(0, 60) t(i)
      GROUP BY doc_id, i
    ),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)
                  AS BIGINT) AS sh
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, sh, p, (sh >> (15 * p)) & 32767 AS k
      FROM sim, range(0, 4) t(p)
    ),
    bsz AS (SELECT p, k, COUNT(*) AS n FROM banded GROUP BY p, k),
    -- Over-cap buckets (n > 1000) replay the PRODUCTION DEFAULT
    -- ring+star policy (over_cap="ring", default since r14), with the
    -- simhash riding through the window as the payload so the Hamming
    -- verify needs no re-join — mirroring dedup._ring_pairs.  Inert
    -- at gate SF (max bucket 27 at sf0.01 / 269 at sf0.1); exercised
    -- by the forced-degenerate differential corpus.
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                      x.sh AS sa, y.sh AS sb
      FROM banded x
      JOIN banded y ON y.p = x.p AND y.k = x.k AND y.doc_id > x.doc_id
      JOIN bsz ON bsz.p = x.p AND bsz.k = x.k AND bsz.n <= 1000
      UNION
      SELECT id_a, id_b, sa, sb FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 1) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS id_b,
               b2.sh AS sa,
               lead(b2.sh, 1) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS sb
        FROM banded b2
        JOIN bsz ON bsz.p = b2.p AND bsz.k = b2.k AND bsz.n > 1000) r1
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b, sa, sb FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 2) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS id_b,
               b2.sh AS sa,
               lead(b2.sh, 2) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS sb
        FROM banded b2
        JOIN bsz ON bsz.p = b2.p AND bsz.k = b2.k AND bsz.n > 1000) r2
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b, sa, sb FROM (
        SELECT first_value(b2.doc_id) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b,
               first_value(b2.sh) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS sa,
               b2.sh AS sb
        FROM banded b2
        JOIN bsz ON bsz.p = b2.p AND bsz.k = b2.k AND bsz.n > 1000) s
      WHERE id_a < id_b
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    """,
    doc=(
        "60-bit md5-based SimHash + 4x15-bit pigeonhole banding; pairs "
        "with Hamming <= 3, fully replayed by the DuckDB oracle, "
        "including the production-default ring+star over-cap policy."
    ),
)
def q34_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signature off the shared cached doc_simhash table (r16; the
    # tokenize+vote aggregation is q34's dominant cost and is shared
    # with q209, which bands the SAME signatures under a forced cap)
    return D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"),
        hash_src="md5",
        sig=doc_simhash(spark, sf_dir),
    )


@register(
    "q209_simhash_ring_overcap",
    # q34's pipeline with max_bucket=2 so the over-cap ring branch
    # EXECUTES at gate SF (simhash band buckets reach 27 members at
    # sf0.01 / 269 at sf0.1, far past 2) — the SimHash twin of q208
    # (VERDICT r13 item 3).  Over-cap buckets emit ring+star
    # candidates with the simhash riding through the window as the
    # payload (dedup._ring_pairs(payload="simhash")), so the Hamming
    # verify runs in-row on both engines; ring pairs face the SAME
    # max_hamming filter as bucket pairs.  The oracle replays votes,
    # sign bits, banding, the n<=2 bucket pairs AND the window-lead /
    # first_value ring branches bit-for-bit.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                               1, 10000)) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    votes AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h, range(0, 60) t(i)
      GROUP BY doc_id, i
    ),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)
                  AS BIGINT) AS sh
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, sh, p, (sh >> (15 * p)) & 32767 AS k
      FROM sim, range(0, 4) t(p)
    ),
    bsz AS (SELECT p, k, COUNT(*) AS n FROM banded GROUP BY p, k),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                      x.sh AS sa, y.sh AS sb
      FROM banded x
      JOIN banded y ON y.p = x.p AND y.k = x.k AND y.doc_id > x.doc_id
      JOIN bsz ON bsz.p = x.p AND bsz.k = x.k AND bsz.n <= 2
      UNION
      SELECT id_a, id_b, sa, sb FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 1) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS id_b,
               b2.sh AS sa,
               lead(b2.sh, 1) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS sb
        FROM banded b2
        JOIN bsz ON bsz.p = b2.p AND bsz.k = b2.k AND bsz.n > 2) r1
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b, sa, sb FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 2) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS id_b,
               b2.sh AS sa,
               lead(b2.sh, 2) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS sb
        FROM banded b2
        JOIN bsz ON bsz.p = b2.p AND bsz.k = b2.k AND bsz.n > 2) r2
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b, sa, sb FROM (
        SELECT first_value(b2.doc_id) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b,
               first_value(b2.sh) OVER
                 (PARTITION BY b2.p, b2.k ORDER BY b2.doc_id) AS sa,
               b2.sh AS sb
        FROM banded b2
        JOIN bsz ON bsz.p = b2.p AND bsz.k = b2.k AND bsz.n > 2) s
      WHERE id_a < id_b
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    """,
    doc=(
        "SimHash near-dup pairs with the recall-preserving ring+star "
        "over-cap policy forced at gate SF (max_bucket=2): window-lead "
        "+ bucket-min candidates carry the simhash payload so Hamming "
        "verifies in-row; the SimHash twin of q208."
    ),
)
def q209_simhash_ring_overcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"),
        hash_src="md5",
        max_bucket=2, over_cap="ring", ring_c=2,
        sig=doc_simhash(spark, sf_dir),
    )


@register(
    "q35_topk_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.q_id, c.vec_id AS n_id,
             list_sum(list_transform(list_zip(q.q_vec, c.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.q_id)
    SELECT q_id, n_id, cosine, rn FROM (
      SELECT q_id, n_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
      FROM pairs) t
    WHERE rn <= 5
    """,
    doc=(
        "Brute-force exact top-5 cosine neighbors for 8 query vectors: "
        "broadcast queries x corpus scan, zip_with/aggregate double math, "
        "WindowGroupLimit top-k."
    ),
)
def q35_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


@register(
    "q36_ann_lsh_topk",
    # Full oracle since round 5: ANN is approximate vs BRUTE FORCE, but
    # deterministic given the hyperplanes — and the md5-seeded hyperplane
    # engine lets DuckDB re-derive the identical doubles (md5 hex →
    # BIGINT → same IEEE division), replaying bucket assignment,
    # multi-table candidate union, cosine re-rank, and top-k exactly.
    # The recall@5 floor vs exact brute force stays asserted in
    # tests/test_similarity.py.
    oracle="""
    WITH hyper AS (
      SELECT t, j,
             list_transform(range(0, 64), d ->
               ('0x' || substr(md5('hp-' || CAST(t * 1024 + j AS VARCHAR)
                                   || '-' || CAST(d AS VARCHAR)), 1, 15))::BIGINT
               / 576460752303423488.0 - 1.0) AS h
      FROM range(0, 8) tt(t), range(0, 4) jj(j)
    ),
    dots AS (
      SELECT e.vec_id, hy.t, hy.j,
             list_sum(list_transform(list_zip(e.embedding, hy.h),
                                     x -> CAST(x[1] AS DOUBLE) * x[2])) AS dp
      FROM embeddings e, hyper hy
    ),
    buck AS (
      SELECT vec_id, t,
             CAST(SUM(CASE WHEN dp >= 0 THEN 1 << (3 - j) ELSE 0 END)
                  AS BIGINT) AS b
      FROM dots GROUP BY vec_id, t
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
      FROM buck cb
      JOIN buck qb ON qb.vec_id < 8 AND cb.t = qb.t AND cb.b = qb.b
      WHERE cb.vec_id <> qb.vec_id
    ),
    scored AS (
      SELECT c.q_id, c.n_id,
             list_sum(list_transform(list_zip(q.embedding, n.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(n.embedding,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.q_id
      JOIN embeddings n ON n.vec_id = c.n_id
    )
    SELECT q_id, n_id, cosine, rn FROM (
      SELECT q_id, n_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
      FROM scored) t
    WHERE rn <= 5
    """,
    doc=(
        "ANN via multi-table random-hyperplane LSH (8 tables x 4 bits) "
        "+ exact cosine re-rank; recall@5 ~0.75 vs brute force on the "
        "synthetic embeddings (tests/test_similarity.py). md5-seeded "
        "hyperplanes broadcast as a tiny table -> DuckDB replays the "
        "whole candidate pipeline. Scale path: bucket-partitioned "
        "corpus => partition-pruned scans."
    ),
)
def q36_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, dim=64, bits=4, tables=8,
        hash_src="md5",
    )


@register(
    "q57_topk_cosine_pandas",
    # Same contract as q35; matmul accumulation order can perturb the
    # cosine in the last ulp, so BOTH sides round to 6 dp (ids/ranks are
    # exact, and exact-id equivalence with the oracle-checked q35 is
    # additionally asserted in tests/test_similarity.py).
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.q_id, c.vec_id AS n_id,
             list_sum(list_transform(list_zip(q.q_vec, c.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.q_id)
    SELECT q_id, n_id, round(cosine, 6) AS cosine, rn FROM (
      SELECT q_id, n_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
      FROM pairs) t
    WHERE rn <= 5
    """,
    doc=(
        "Exact top-5 cosine via Arrow-batched NumPy matmul (mapInPandas): "
        "same semantics as q35, BLAS-speed per batch, per-batch top-k so "
        "the shuffle carries O(batches*k) rows. The large-dim scale path. "
        "Driver-facing cosine rounded to 6 dp (see oracle note)."
    ),
)
def q57_topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.brute_force_topk_pandas(emb, emb.filter(F.col("vec_id") < 8), k=5)
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "q37_text_stats",
    oracle="""
    WITH w AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(ws) AS n_words,
           CASE WHEN len(ws) > 0
                THEN CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / len(ws)
                ELSE 0.0 END AS avg_word_len,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(ws) > 0
                THEN CAST(len(list_filter(ws, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS DOUBLE) / len(ws)
                ELSE 0.0 END AS stopword_ratio,
           (CASE WHEN (CASE WHEN len(ws) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / len(ws) ELSE 0.0 END) >= 3 THEN 0.4 ELSE 0.0 END
            + CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) <= 0.1 THEN 0.3 ELSE 0.0 END
            + CASE WHEN (CASE WHEN len(ws) > 0 THEN CAST(len(list_filter(ws, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS DOUBLE) / len(ws) ELSE 0.0 END) >= 0.05 THEN 0.3 ELSE 0.0 END)
             AS quality_score
    FROM w
    """,
    doc="Per-doc quality stats: char/word counts, punct & stopword ratios, composite score.",
)
def q37_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "q38_token_count",
    oracle=r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
    doc="Whitespace + BPE-ish regex token counting.",
)
def q38_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_count(load_table(spark, sf_dir, "documents"))


@register(
    "q39_lang_id",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
    s AS (
      SELECT doc_id,
        len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','zu'], x))) AS score_de,
        len(list_filter(ws, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS score_en,
        len(list_filter(ws, x -> list_contains(['el','la','los','las','y','es','un','una','en','por'], x))) AS score_es,
        len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','dans','pour','que'], x))) AS score_fr
      FROM w)
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM s
    """,
    doc="Stopword-profile language ID: vectorized per-language scoring + deterministic argmax.",
)
def q39_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "q40_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS md5_raw,
           md5({_NORM_SQL.format(c='text')}) AS md5_norm
    FROM documents
    """,
    doc="Content-addressable doc fingerprints (raw + normalized md5).",
)
def q40_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "q41_winnowing",
    # k-gram hash = first 16 hex chars of md5 (engine-neutral by design);
    # the oracle replays k-gram extraction, window-min selection, and the
    # sorted-distinct digest verbatim in DuckDB list functions.
    oracle=f"""
    WITH normed AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS nrm FROM documents
    ),
    grammed AS (
      SELECT doc_id,
             CASE WHEN length(nrm) >= 5
                  THEN list_transform(range(1, length(nrm) - 5 + 2),
                         i -> substring(md5(substring(nrm, i, 5)), 1, 16))
                  ELSE [] END AS g
      FROM normed
    ),
    fp AS (
      SELECT doc_id,
             list_sort(list_distinct(
               CASE WHEN len(g) >= 4
                    THEN list_transform(range(0, len(g) - 4 + 1),
                           i -> list_aggregate(list_slice(g, i + 1, i + 4), 'min'))
                    ELSE g END)) AS f
      FROM grammed
    )
    SELECT doc_id, len(f) AS n_fingerprints,
           md5(array_to_string(f, ',')) AS fingerprint_digest
    FROM fp
    """,
    doc="Winnowing (SIGMOD'03) k-gram rolling-hash fingerprints, window-min selection, Catalyst-only.",
)
def q41_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "q42_embedding_dedup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS cosine
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
            > -2
    """,
    doc=(
        "Embedding-cosine near-dup scoring over adjacent pairs (threshold -2 "
        "keeps all rows so the oracle checks the full cosine computation; "
        "production threshold ~0.95). LSH-bucketed variant = q36."
    ),
)
def q42_embedding_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a", "id_b", cosine_similarity(F.col("ea"), F.col("eb")).alias("cosine")
    ).filter(F.col("cosine") > -2)


@register(
    "q56_corpus_curation",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, text, lang,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS ws,
             {_NORM_SQL.format(c='text')} AS norm
      FROM documents),
    scored AS (
      SELECT doc_id, text, lang, norm,
             (CASE WHEN (CASE WHEN len(ws) > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE) / len(ws) ELSE 0.0 END) >= 3 THEN 0.4 ELSE 0.0 END
              + CASE WHEN (CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) <= 0.1 THEN 0.3 ELSE 0.0 END
              + CASE WHEN (CASE WHEN len(ws) > 0 THEN CAST(len(list_filter(ws, x -> list_contains(['the','and','of','to','a','in','is','it','that','for'], x))) AS DOUBLE) / len(ws) ELSE 0.0 END) >= 0.05 THEN 0.3 ELSE 0.0 END)
               AS quality_score
      FROM w),
    kept AS (SELECT * FROM scored WHERE quality_score >= 0.7),
    deduped AS (
      SELECT min(doc_id) AS doc_id, norm, COUNT(*) AS n_dups
      FROM kept GROUP BY norm)
    SELECT d.doc_id, k.lang, d.n_dups, k.quality_score
    FROM deduped d JOIN kept k ON k.doc_id = d.doc_id
    """,
    doc=(
        "End-to-end curation pipeline: quality-score filter -> "
        "normalized dedup (keep min doc_id) -> per-keeper metadata. "
        "The composition stays one Catalyst plan: scan once, filter, "
        "one dedup shuffle, one keeper join."
    ),
)
def q56_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = T.text_stats(docs).select("doc_id", "quality_score")
    scored = docs.join(stats, "doc_id").filter(F.col("quality_score") >= 0.7)
    scored = scored.withColumn("norm", D.normalize_text(F.col("text")))
    deduped = scored.groupBy("norm").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups")
    )
    return deduped.join(
        scored.select("doc_id", "lang", "quality_score"), "doc_id"
    ).select("doc_id", "lang", "n_dups", "quality_score")


@register(
    "q54_dedup_keep_list",
    # The Spark side goes through MinHash banding (md5 engine since r08,
    # sharing the cached minhash_candidates builder with q33), but the
    # banding is only a candidate FILTER: at shingle-Jaccard >= 0.9 the
    # 16x4 S-curve's miss probability is (1 - 0.9^4)^16 ~ 3e-8 per pair,
    # so the verified pair set equals the exact >= 0.9 pair set (asserted
    # against brute force for BOTH hash engines in tests/test_dedup.py
    # on this corpus).  The oracle therefore computes the exact pair set
    # directly — candidates from an inverted-index join (J > 0 requires
    # a shared shingle), integer cross-multiplied Jaccard, transitive
    # closure by recursive CTE, min-id label per component.
    # Since r14 the candidate builder defaults to over_cap="ring":
    # inert at gate SF (no bucket exceeds 50), and on degenerate
    # corpora it keeps over-cap duplicate clusters CONNECTED (diameter
    # <= 2) so the CC labels still match the exact closure — where the
    # old drop default would shatter them into singletons and diverge
    # from this oracle (the r13 300x recall-0.015 failure mode).
    # Since r15 the builder also widens the star to star_k=2 (ADVICE
    # r14): the one ring case measured to diverge from this exact
    # closure — a multi-family over-cap bucket routing the star to the
    # other family's min while the threshold sits exactly on the hub
    # edge (14/4949 eligible clusters at 100x) — now emits the second
    # family's hub edges too (14 -> 0 measured).  No SQL change here:
    # the oracle IS the exact closure, and widening the candidate set
    # only moves the verified graph's components TOWARD it (verify
    # still filters at >= 0.9, so no spurious edges can appear).
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             (SELECT CASE WHEN len(t.toks) >= 3 THEN
                       list_distinct(list_transform(range(1, len(t.toks) - 1),
                         i -> t.toks[i] || ' ' || t.toks[i+1] || ' ' || t.toks[i+2]))
                     ELSE [] END
              FROM (SELECT list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                      1, 10000) AS toks) t
             ) AS s
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM ex x JOIN ex y ON y.g = x.g AND y.doc_id > x.doc_id
    ),
    verified AS (
      SELECT id_a, id_b
      FROM cand
      JOIN sh a ON a.doc_id = cand.id_a
      JOIN sh b ON b.doc_id = cand.id_b
      WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
        AND len(list_intersect(a.s, b.s)) * 10
            >= len(list_distinct(list_concat(a.s, b.s))) * 9
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION SELECT id_b, id_a FROM verified
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS keep
    FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    """,
    doc=(
        "End-to-end near-dedup decision: MinHash LSH candidates -> exact "
        "shingle-Jaccard >= 0.9 verify (integer cross-multiplication, the "
        "same 3-word shingle sets the signatures hash) -> connected "
        "components (large-star/small-star rounds) -> one keeper per "
        "duplicate cluster. Output (doc_id, cluster_id, keep) for every "
        "document. Scale: LSH banding bounds candidates, CC rounds = "
        "O(log n) in the cluster size, one action each; the oracle's "
        "brute-force inverted-index twin is feasible only at oracle SF. "
        "Candidates and shingle sets come from the shared cached "
        "builders (minhash_candidates / doc_shingle_sets), so the "
        "signature+banding pipeline materializes once per session "
        "across q33/q54."
    ),
)
def q54_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_keep_list(
        load_table(spark, sf_dir, "documents"),
        threshold=0.9,
        verify_on="shingles",
        threshold_frac=(9, 10),
        **MINHASH_KW,
        cand=minhash_candidates(spark, sf_dir),
        toks=doc_shingle_sets(spark, sf_dir),
    )


@register(
    "q210_keep_list_ring",
    # The COMPOSITE curation decision under the production-default
    # ring policy with the over-cap path FORCED at gate SF
    # (max_bucket=2, like q208/q209): LSH candidates (bucket pairs +
    # ring+star in over-cap buckets) -> exact token-Jaccard >= 0.5
    # verify -> connected components -> one keeper per
    # cluster.  This is the r13 VERDICT item 2 closure: the exact
    # mine->verify->cluster->keep chain a 100 TB curation run executes
    # now has the recall-preserving policy oracle-checked END TO END,
    # not just at the pair stage.  The oracle replays candidates (ring
    # branches as window leads/first_value, q208's cand), verify, then
    # the transitive closure by recursive CTE — Spark's large-star/
    # small-star rounds compute components of the SAME verified edge
    # set, and raise rather than return a non-fixpoint.
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS s
      FROM (SELECT doc_id,
                   list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                              1, 10000) AS toks
            FROM documents) t
    ),
    hh AS (
      SELECT doc_id,
             list_transform(s, g -> (('0x' || substr(md5(g), 1, 15))::BIGINT)
                                    % 2147483647) AS hh
      FROM sh WHERE len(s) > 0
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY j) AS sig FROM (
        SELECT u.doc_id, p.j, MIN((p.a * u.h + p.b) % 2147483647) AS mh
        FROM (SELECT doc_id, unnest(hh) AS h FROM hh) u
        CROSS JOIN (SELECT j, ({_MH_A_SQL})[j + 1] AS a,
                           ({_MH_B_SQL})[j + 1] AS b
                    FROM range(0, 64) t(j)) p
        GROUP BY u.doc_id, p.j) m
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b, list_slice(sig, b * 4 + 1, b * 4 + 4) AS key
      FROM sig, range(0, 16) t(b)
    ),
    bsz AS (SELECT b, key, COUNT(*) AS n FROM banded GROUP BY b, key),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x
      JOIN banded y ON y.b = x.b AND y.key = x.key AND y.doc_id > x.doc_id
      JOIN bsz ON bsz.b = x.b AND bsz.key = x.key AND bsz.n <= 2
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 1) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) r1
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 2) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) r2
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT first_value(b2.doc_id) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) s
      WHERE id_a < id_b
    ),
    tok AS (
      SELECT doc_id,
             list_distinct(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                      1, 10000)) AS tk
      FROM documents
    ),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN tok a ON a.doc_id = c.id_a
      JOIN tok b ON b.doc_id = c.id_b
      WHERE len(list_distinct(list_concat(a.tk, b.tk))) > 0
        AND len(list_intersect(a.tk, b.tk)) * 2
            >= len(list_distinct(list_concat(a.tk, b.tk)))
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION SELECT id_b, id_a FROM verified
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS keep
    FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    """,
    doc=(
        "End-to-end keep-list under the production-default ring "
        "over-cap policy, forced at gate SF (max_bucket=2): LSH "
        "bucket+ring candidates -> exact token-Jaccard >= 1/2 verify "
        "(integer cross-multiplication) -> connected components -> "
        "one keeper per cluster; the composite closure of q208/q209."
    ),
)
def q210_keep_list_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_keep_list(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        threshold_frac=(1, 2),
        **MINHASH_KW,
        scores=ring_verify_scores(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# star_k >= 2 oracle arc (r15 — VERDICT r14 item 2).  The star_k knob
# closed the measured hub-marginal ring residual (14/4949 eligible
# clusters split at 100x, SCALE.md r14), but until this round no
# registry oracle replayed the `nth_value` branch it adds
# (operators/dedup.py _ring_pairs, j >= 2) — the gate never exercised
# star_k >= 2.  Two subtleties force a NON-default banding here:
# under the production 16x4 banding the largest gate-SF bucket is 3
# (sf0.01) / 4 (sf0.1), and with ring_c=2 every star-2 edge in a
# bucket of n <= 4 is already emitted by the ring or star-1 branches —
# the nth_value branch would execute but be EDGE-SUBSUMED, i.e. a
# vacuous replay.  Widening one band to a single permutation
# (num_perm=16, bands=16 — the standard LSH recall-vs-precision knob:
# collision prob j instead of j^4 per band) yields buckets up to 6 at
# sf0.01 / 21 at sf0.1, where star-2 emits edges no other branch
# produces, so a wrong frame, wrong null handling, or an off-by-one in
# the nth_value implementation flips the gate hash.
# ---------------------------------------------------------------------------

_MH_A16_SQL = "[" + ",".join(map(str, _MH_A[:16])) + "]"
_MH_B16_SQL = "[" + ",".join(map(str, _MH_B[:16])) + "]"

# Shared CTE text for the 16x1-banding candidate set under
# max_bucket=2 / ring_c=2 / star_k=2 — q211 (pair topology) and q212
# (keep-list composite) replay the identical candidate pipeline, so
# the SQL lives once.  Mirrors q208/q210's inline CTEs, plus the s2
# branch: nth_value(doc_id, 2) over the same running frame Spark's
# F.nth_value uses (both engines default to UNBOUNDED PRECEDING ..
# CURRENT ROW with ORDER BY; doc_ids are unique per bucket, so RANGE
# vs ROWS cannot diverge).
_STAR2_CAND_CTES = f"""
    sh AS (
      SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS s
      FROM (SELECT doc_id,
                   list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                              1, 10000) AS toks
            FROM documents) t
    ),
    hh AS (
      SELECT doc_id,
             list_transform(s, g -> (('0x' || substr(md5(g), 1, 15))::BIGINT)
                                    % 2147483647) AS hh
      FROM sh WHERE len(s) > 0
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY j) AS sig FROM (
        SELECT u.doc_id, p.j, MIN((p.a * u.h + p.b) % 2147483647) AS mh
        FROM (SELECT doc_id, unnest(hh) AS h FROM hh) u
        CROSS JOIN (SELECT j, ({_MH_A16_SQL})[j + 1] AS a,
                           ({_MH_B16_SQL})[j + 1] AS b
                    FROM range(0, 16) t(j)) p
        GROUP BY u.doc_id, p.j) m
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b, sig[b + 1] AS key
      FROM sig, range(0, 16) t(b)
    ),
    bsz AS (SELECT b, key, COUNT(*) AS n FROM banded GROUP BY b, key),
    cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x
      JOIN banded y ON y.b = x.b AND y.key = x.key AND y.doc_id > x.doc_id
      JOIN bsz ON bsz.b = x.b AND bsz.key = x.key AND bsz.n <= 2
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 1) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) r1
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT b2.doc_id AS id_a,
               lead(b2.doc_id, 2) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) r2
      WHERE id_b IS NOT NULL
      UNION
      SELECT id_a, id_b FROM (
        SELECT first_value(b2.doc_id) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) s1
      WHERE id_a < id_b
      UNION
      SELECT id_a, id_b FROM (
        SELECT nth_value(b2.doc_id, 2) OVER
                 (PARTITION BY b2.b, b2.key ORDER BY b2.doc_id) AS id_a,
               b2.doc_id AS id_b
        FROM banded b2
        JOIN bsz ON bsz.b = b2.b AND bsz.key = b2.key AND bsz.n > 2) s2
      WHERE id_a IS NOT NULL AND id_a < id_b
    )"""

# The one kwargs set for the arc — q211, q212 and the differential
# fuzz test all build from it, so the Spark side can never drift from
# what _STAR2_CAND_CTES replays (the MINHASH_KW discipline).
STAR2_KW: dict = {
    **MINHASH_KW, "num_perm": 16, "bands": 16,
    "max_bucket": 2, "over_cap": "ring", "ring_c": 2, "star_k": 2,
}


@shared_builder
def star2_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q211/q212 shared STAR2_KW candidate pipeline, cached (r16).

    q211 IS this candidate set (the pure-topology gate) and q212
    verifies + clusters it; before r16 each rebuilt the 16x1-banding
    signature → split → ring+star pipeline.  Same CacheManager
    discipline as minhash_candidates / ring_candidates."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, **STAR2_KW, shingle_sets=doc_shingle_sets(spark, sf_dir),
    ).cache()


@register(
    "q211_minhash_star2_overcap",
    # Pure candidate-TOPOLOGY gate for the widened star: output is the
    # raw distinct (id_a, id_b) candidate set, no verify stage — every
    # nth_value edge the branch emits lands in the output directly, so
    # the gate hash is maximally sensitive to the branch (a verify
    # filter would hide topology errors on low-Jaccard random-collision
    # pairs, which is exactly what over-cap buckets under 1-perm bands
    # are made of).  Verify semantics over ring candidates are already
    # gated by q208/q33; clustering by q212.
    oracle=f"""
    WITH {_STAR2_CAND_CTES}
    SELECT id_a, id_b FROM cand
    """,
    doc=(
        "MinHash LSH candidate pairs under 16x1 banding (the "
        "recall-heavy knob setting) with the widened ring+star over-cap "
        "policy (star_k=2): each over-cap doc pairs with its 2 ring "
        "successors AND the bucket's 2 smallest ids, "
        "O(n*(ring_c+star_k)) per bucket.  Oracle replays banding, "
        "under-cap pairs, ring leads, first_value star and the "
        "nth_value(2) star-2 branch exactly."
    ),
)
def q211_minhash_star2_overcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star2_candidates(spark, sf_dir)


@register(
    "q212_keep_list_star2",
    # The q210 composite under star_k=2: candidates (incl. the
    # nth_value star-2 branch) -> exact token-Jaccard >= 1/2 verify ->
    # connected components -> one keeper per cluster.
    # This is the production shape for pipelines that opt into the
    # hub-marginal fix (SCALE.md r14: eligible-split clusters 14 -> 0
    # at star_k=2, measured at 100x) — now oracle-checked end to end.
    # Its verified graph chains across buckets: label propagation
    # took 6-8 rounds at sf0.001-sf0.1, connected_components' O(log n)
    # rounds take 3.
    oracle=f"""
    WITH RECURSIVE {_STAR2_CAND_CTES},
    tok AS (
      SELECT doc_id,
             list_distinct(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                      1, 10000)) AS tk
      FROM documents
    ),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN tok a ON a.doc_id = c.id_a
      JOIN tok b ON b.doc_id = c.id_b
      WHERE len(list_distinct(list_concat(a.tk, b.tk))) > 0
        AND len(list_intersect(a.tk, b.tk)) * 2
            >= len(list_distinct(list_concat(a.tk, b.tk)))
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION SELECT id_b, id_a FROM verified
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS keep
    FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    """,
    doc=(
        "End-to-end keep-list under the WIDENED star (star_k=2, the "
        "hub-marginal-residual fix): 16x1-banding LSH candidates incl. "
        "the nth_value star-2 branch -> exact token-Jaccard >= 1/2 "
        "verify -> connected components -> one keeper per cluster."
    ),
)
def q212_keep_list_star2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_keep_list(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        threshold_frac=(1, 2),
        **STAR2_KW,
        cand=star2_candidates(spark, sf_dir),
        toks=doc_token_sets(spark, sf_dir),
    )


@register(
    "q43_media_features",
    # The fake decode derives every output from md5(content), so the whole
    # query IS DuckDB-expressible: hex-digit arithmetic reconstructs the
    # digest bytes, widths/heights/channels, and the exact integer numerators
    # of the feature floats (feature[i] = k_i/1000003 in float32, and
    # round(f*1000003) recovers k_i exactly because the float32 error is
    # < 0.06 ulp of the integer grid).
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type,
             strlen(text) AS n_bytes,
             md5(text) AS h
      FROM documents
    ),
    b AS (
      SELECT doc_id, media_type, n_bytes,
             list_transform(range(0, 16),
               j -> (strpos('0123456789abcdef', substring(h, 2*j+1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substring(h, 2*j+2, 1)) - 1)) AS bs
      FROM m
    ),
    k AS (
      SELECT doc_id, media_type, n_bytes,
             16 + bs[1] % 240 AS width,
             16 + bs[2] % 240 AS height,
             1 + bs[3] % 4 AS channels,
             list_transform(range(0, 4),
               i -> (bs[4*i+1] + bs[4*i+2]*256 + bs[4*i+3]*65536
                     + bs[4*i+4]*16777216) % 1000003) AS ks
      FROM b
    )
    SELECT doc_id, media_type, n_bytes, width, height, channels,
           concat_ws(',', ks[1], ks[2], ks[3], ks[4],
                          ks[1], ks[2], ks[3], ks[4]) AS feature_sig
    FROM k
    """,
    doc=(
        "Multimodal plumbing: documents -> binary media column + typed "
        "metadata -> Arrow-batched mapInPandas decode/feature-extract "
        "(decode STUBBED deterministically; no imaging libs in container). "
        "Driver-facing output serializes the array<float> feature to its "
        "exact integer signature (round(f*1000003) per element, comma "
        "joined) so the correctness hasher gets a flat string; the raw "
        "array stays in the operator API (operators/multimodal.py)."
    ),
)
def q43_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.attach_media(load_table(spark, sf_dir, "documents"))
    feats = M.image_features(media, fake=True)
    return feats.select(
        "doc_id", "media_type", "n_bytes", "width", "height", "channels",
        F.concat_ws(
            ",",
            F.transform(
                "feature",
                lambda x: F.round(x.cast("double") * 1000003).cast("bigint").cast("string"),
            ),
        ).alias("feature_sig"),
    )


@register(
    "q60_audio_features",
    # Fully-real DSP, yet exactly DuckDB-expressible: the int16 samples are
    # reconstructed from hex(encode(text)); every float op is then exact or
    # identically-rounded on both engines (pcm = s/2^15 is exact, each
    # pcm² = s²·2⁻³⁰ is exact, their sum stays < 2^23 so ANY summation
    # order — numpy pairwise included — is exact, leaving one shared
    # division + one correctly-rounded sqrt).  frame_rms (array<float>)
    # is excluded from the driver-facing projection: per-frame float32
    # casts are engine-reproducible too, but the driver hasher can't take
    # arrays — the arrays stay in the operator API and are NumPy-twin
    # checked in tests/test_multimodal.py.
    oracle="""
    WITH m AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx, strlen(text) AS nb
      FROM documents WHERE doc_id % 3 = 1
    ),
    s AS (
      SELECT doc_id, CAST(nb // 2 AS BIGINT) AS n,
             list_transform(range(0, CAST(nb // 2 AS BIGINT)),
               i -> CASE WHEN
                      ((strpos('0123456789abcdef', substring(hx, 4*i+1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(hx, 4*i+2, 1)) - 1))
                      + 256 * ((strpos('0123456789abcdef', substring(hx, 4*i+3, 1)) - 1) * 16
                               + (strpos('0123456789abcdef', substring(hx, 4*i+4, 1)) - 1))
                      >= 32768
                    THEN ((strpos('0123456789abcdef', substring(hx, 4*i+1, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substring(hx, 4*i+2, 1)) - 1))
                         + 256 * ((strpos('0123456789abcdef', substring(hx, 4*i+3, 1)) - 1) * 16
                                  + (strpos('0123456789abcdef', substring(hx, 4*i+4, 1)) - 1))
                         - 65536
                    ELSE ((strpos('0123456789abcdef', substring(hx, 4*i+1, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substring(hx, 4*i+2, 1)) - 1))
                         + 256 * ((strpos('0123456789abcdef', substring(hx, 4*i+3, 1)) - 1) * 16
                                  + (strpos('0123456789abcdef', substring(hx, 4*i+4, 1)) - 1))
                    END) AS smp
      FROM m
    )
    SELECT doc_id,
           CAST(n AS INT) AS n_samples,
           CAST(CASE WHEN n >= 256 THEN n // 256 ELSE 1 END AS INT) AS n_frames,
           CASE WHEN n = 0 THEN 0.0
                ELSE sqrt((CAST(list_sum(list_transform(smp, x -> x*x)) AS DOUBLE)
                           / 1073741824.0) / n) END AS rms,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(list_max(list_transform(smp, x -> abs(x))) AS DOUBLE)
                     / 32768.0 END AS peak,
           CASE WHEN n > 1
                THEN CAST(list_sum(list_transform(range(1, n),
                       i -> CASE WHEN (smp[i] < 0) <> (smp[i+1] < 0)
                            THEN 1 ELSE 0 END)) AS DOUBLE) / (n - 1)
                ELSE 0.0 END AS zero_crossing_rate
    FROM s
    """,
    doc=(
        "Audio feature extraction over raw int16 PCM binary columns - "
        "RMS/peak/zero-crossings + per-frame RMS, Arrow-batched NumPy "
        "(fully real, no codec lib required). Driver-facing projection "
        "keeps the scalar features (bit-exact across engines by "
        "power-of-two scaling); per-frame RMS arrays live in the "
        "operator API."
    ),
)
def q60_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.attach_media(load_table(spark, sf_dir, "documents"))
    return M.audio_features(media).select(
        "doc_id", "n_samples", "n_frames", "rms", "peak", "zero_crossing_rate"
    )


@register(
    "q58_image_resize",
    # md5-derived stub dims + md5 resize digest — both exactly
    # reproducible in DuckDB from the text bytes.
    oracle="""
    WITH m AS (
      SELECT doc_id, md5(text) AS h, text
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           16 + ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1)) % 240 AS width,
           16 + ((strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1)) % 240 AS height,
           224 AS target_w, 224 AS target_h,
           md5(text || '224x224') AS resized_digest
    FROM m
    """,
    doc="Image resize plumbing: image rows -> fixed target dims + stable digest.",
)
def q58_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.attach_media(load_table(spark, sf_dir, "documents"))
    return M.resize_images(media)


@register(
    "q44_frame_samples",
    # The stub decode is md5-deterministic: frame_digest =
    # md5(utf8(text) + frame_idx as 4 little-endian bytes), n_frames =
    # min(4, 1 + byte_len % 4).  chr(i)||chr(0)*3 reproduces the LE
    # int bytes in DuckDB (frame_idx < 4, and NUL is a legal VARCHAR
    # byte there), so the whole explode is SQL-expressible.
    oracle="""
    WITH v AS (
      SELECT doc_id, text, least(4, 1 + strlen(text) % 4) AS n
      FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT doc_id, text, unnest(range(0, n)) AS i FROM v
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
           md5(text || chr(CAST(i AS INT)) || chr(0) || chr(0) || chr(0))
             AS frame_digest
    FROM f
    """,
    doc="Video frame-sampling plumbing: per-media-row frame explosion with stable digests.",
)
def q44_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.attach_media(load_table(spark, sf_dir, "documents"))
    return M.sample_frames(media)


@register(
    "q64_hash_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < '19999999'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
    doc=(
        "Deterministic train/test split by md5 prefix (10% test): "
        "reproducible across engines/cluster sizes, growth-stable, "
        "join-free - the scale-correct alternative to random splits."
    ),
)
def q64_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return T.hash_split(docs, "doc_id", test_frac=0.1)


def ivf_recall_contract(exact: DataFrame, ivf: DataFrame, k: int) -> DataFrame:
    """Assemble q67's self-check row from the two labeled top-k frames.

    `exact` carries (q_id, n_id, cosine, ex=1); `ivf` carries
    (q_id, n_id, hit=1).  Consumes each side ONCE via a full-outer
    pair join (r11, plan-budget audit: the old left-join + separate
    n_ivf aggregate planned the whole IVF pipeline — corpus scan,
    Arrow cell assign, candidate join, top-k window — twice, 12 scans
    / 6 Arrow nodes in the static plan).  Both join sides are
    result-sized (n_queries × k rows), never corpus-sized.  Per-query
    counts fall out of null patterns: exact-only rows have hit NULL,
    IVF-only rows have ex NULL.  Extracted as a helper so the
    zero-result-query path is unit-testable (tests/test_llmdata.py).
    """
    per_q = (
        exact.join(ivf, ["q_id", "n_id"], "full")
        .groupBy("q_id")
        .agg(
            # coalesce to 0: a side with zero rows for a query sums to
            # NULL, and F.min skips NULLs — the _ek/_ik == k contract
            # must FAIL explicitly for such a query, not ignore it
            # (ADVICE r11; unreachable with current data since a query
            # vector is always its own IVF candidate, but the contract
            # should not depend on that).
            F.coalesce(F.sum("ex"), F.lit(0)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_ivf"),
            F.sum(
                F.when(F.col("ex").isNotNull() & F.col("hit").isNotNull(), 1)
                .otherwise(0)
            ).alias("n_hit"),
            F.sum(F.col("cosine").cast("decimal(30,6)")).alias("cos_d"),
        )
    )
    return (
        per_q.agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.min("n_exact") == k).alias("_ek"),
            (F.min("n_ivf") == k).alias("_ik"),
            F.sum("n_hit").alias("_hits"),
            F.sum("cos_d").cast("double").alias("exact_top5_cosine_sum"),
        )
        .select(
            "n_queries",
            (F.col("_ek") & F.col("_ik")).alias("all_have_k"),
            # mean recall >= 0.40, integer cross-multiplication
            (F.col("_hits") * 10 >= F.lit(4 * k) * F.col("n_queries")).alias(
                "recall_ok"
            ),
            "exact_top5_cosine_sum",
        )
    )


@register(
    "q67_ann_ivf_topk",
    # Oracle since round 5, q55-style self-check contract: IVF cell
    # assignments come from seeded k-means (deterministic but not
    # SQL-replayable), so the query runs the IVF search AND the exact
    # brute-force top-5 in ONE plan and emits the verifiable contract:
    # every query returned exactly k results, mean recall@5 clears an
    # integer-cross-multiplied floor (sum_hits*10 >= 4*k*n_queries,
    # i.e. 0.40 — measured 0.5-0.6 on the driver corpora, and the
    # whole pipeline is seeded/deterministic so the value is stable),
    # and the decimal-exact sum of the EXACT top-5 cosines, which the
    # oracle replays in full (pinning that the recall was measured
    # against the true neighbor set).  A recall collapse or a result
    # shortfall hash-fails the driver row.  Raw top-k rows + per-query
    # recall floors stay covered in tests/test_similarity.py.
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.q_id, c.vec_id AS n_id,
             list_sum(list_transform(list_zip(q.q_vec, c.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine
      FROM embeddings c, q WHERE c.vec_id <> q.q_id),
    top5 AS (
      SELECT q_id, n_id, cosine FROM (
        SELECT q_id, n_id, cosine,
               row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
        FROM pairs) t
      WHERE rn <= 5)
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           TRUE AS all_have_k,
           TRUE AS recall_ok,
           CAST(SUM(CAST(cosine AS DECIMAL(30,6))) AS DOUBLE) AS exact_top5_cosine_sum
    FROM top5
    """,
    doc=(
        "ANN via IVF: 16 k-means cells (seeded Lloyd's on a bounded "
        "hash-ordered sample), 4-cell multi-probe, exact cosine "
        "re-rank - the partition-pruned ANN alternative to q36's LSH; "
        "at scale the cell id becomes a partition column. Emits the "
        "self-check contract (k-results + mean-recall floor vs the "
        "in-plan exact brute force + decimal-exact cosine mass) so "
        "the driver hash-gates it despite the non-SQL k-means step."
    ),
)
def q67_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    k = 5
    ivf = (
        S.ann_ivf_topk(emb, queries, k=k, n_centroids=16, n_probe=4)
        .select("q_id", "n_id")
        .withColumn("hit", F.lit(1))
    )
    exact = (
        S.brute_force_topk(emb, queries, k=k)
        .select("q_id", "n_id", "cosine")
        .withColumn("ex", F.lit(1))
    )
    return ivf_recall_contract(exact, ivf, k)


@register(
    "q68_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
      -- list_slice mirrors the Spark side's MAX_TOKENS=10000 cap (dedup.tokens)
      SELECT doc_id,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '), 1, 10000) AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 5
                         THEN list_transform(range(len(t) - 4),
                              i -> array_to_string(list_slice(t, i + 1, i + 5), ' '))
                         ELSE [] END) AS gram
      FROM toks)
    SELECT gram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM grams
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 3
    """,
    doc=(
        "Boilerplate detection: 5-gram shingles repeated across >= 3 "
        "distinct documents (headers/footers/licenses) - the standard "
        "pre-dedup cleanup pass; explode -> count, one shuffle."
    ),
)
def q68_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 5-gram shingles off the shared cached token table (doc_tokens):
    # the tokenize pass is reused across the whole text family.
    toked = doc_tokens(spark, sf_dir)
    grams = toked.select(
        "doc_id",
        F.explode(D.shingles_from_tokens(F.col("w"), 5)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 3)
    )


@register(
    "q70_chunk_documents",
    oracle=None,  # oracle injected below from chunk_oracle_sql()
    doc=(
        "Document chunking: 64-token windows with 8-token overlap "
        "(sequence -> slice -> array_join, zero-shuffle projection) - "
        "the step that turns documents into training-window records. "
        "UDTF twin asserted row-identical in tests/test_chunking.py."
    ),
)
def q70_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.chunking import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"), chunk=64, overlap=8)


def _inject_chunk_oracle() -> None:
    from flink_s3_read_write_spark.operators.chunking import chunk_oracle_sql
    from flink_s3_read_write_spark.queries import _REGISTRY, Query

    q = _REGISTRY["q70_chunk_documents"]
    _REGISTRY["q70_chunk_documents"] = Query(q.name, q.fn, chunk_oracle_sql(64, 8), q.doc)


_inject_chunk_oracle()


@register(
    "q71_pack_chunks",
    oracle=None,  # injected below
    doc=(
        "Sequence packing: chunks -> fixed 256-token-budget packs via "
        "offset packing (window cumsum; greedy close-on-overflow is "
        "inherently serial). The chunk->pack step between chunking and "
        "training-batch assembly."
    ),
)
def q71_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.chunking import chunk_documents, pack_chunks

    chunks = chunk_documents(load_table(spark, sf_dir, "documents"), chunk=64, overlap=8)
    return pack_chunks(chunks, budget=256)


def _inject_pack_oracle() -> None:
    from flink_s3_read_write_spark.operators.chunking import chunk_oracle_sql
    from flink_s3_read_write_spark.queries import _REGISTRY, Query

    oracle = f"""
    WITH chunks AS ({chunk_oracle_sql(64, 8)}),
    laid AS (
      SELECT *, CAST(doc_id % 16 AS INT) AS shard,
             SUM(n_chunk_tokens) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id, chunk_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chunk_tokens AS s
      FROM chunks)
    SELECT doc_id, chunk_id, chunk_text, n_chunk_tokens, shard,
           CAST(s // 256 AS BIGINT) AS pack_id
    FROM laid
    """
    q = _REGISTRY["q71_pack_chunks"]
    _REGISTRY["q71_pack_chunks"] = Query(q.name, q.fn, oracle, q.doc)


_inject_pack_oracle()


# ---------------------------------------------------------------------------
# Benchmark decontamination, repetition quality, embedding quantization.
# ---------------------------------------------------------------------------


@register(
    "q72_decontaminate",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS sh
      FROM words, unnest(range(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 4
    ),
    bench AS (
      SELECT sh, doc_id AS bench_id FROM shingles WHERE doc_id % 31 = 0
    )
    SELECT s.doc_id,
           COUNT(DISTINCT s.sh) AS n_shared_shingles,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs
    FROM shingles s JOIN bench b ON s.sh = b.sh AND s.doc_id <> b.bench_id
    GROUP BY s.doc_id
    """,
    doc=(
        "Benchmark decontamination: flag corpus documents sharing any "
        "4-gram with a benchmark set (here: doc_id % 31 == 0 plays the "
        "held-out eval set). Shingle-explode -> broadcast join on the "
        "tiny benchmark side -> per-doc hit counts; the standard "
        "pre-training leak check run before any eval is trusted."
    ),
)
def q72_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Stage each array op as a bound column (HOF lambdas are interpreted
    # with no CSE -- see PLANS.md): words first, then shingles.
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    grams = F.transform(
        F.sequence(F.lit(0), n - F.lit(4)),
        lambda i: F.array_join(F.slice("w", i + 1, F.lit(4)), " "),
    )
    shingles = (
        words.select(
            "doc_id",
            F.explode(
                F.when(n >= 4, F.array_distinct(grams)).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("sh"),
        )
    )
    bench = (
        shingles.filter(F.col("doc_id") % 31 == 0)
        .select(F.col("sh"), F.col("doc_id").alias("bench_id"))
    )
    hits = shingles.join(F.broadcast(bench), "sh").filter(
        F.col("doc_id") != F.col("bench_id")
    )
    return hits.groupBy("doc_id").agg(
        F.countDistinct("sh").alias("n_shared_shingles"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


@register(
    "q75_repetition_quality",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bigrams AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
      FROM words, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ),
    counts AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           MAX(c) AS top_bigram_n,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
           CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.18 AS repetitive
    FROM counts
    GROUP BY doc_id
    """,
    doc=(
        "Gopher-style repetition quality filter: fraction of all bigrams "
        "taken by the single most frequent bigram; docs above 0.18 are "
        "flagged repetitive. Two partial-agg shuffles ((doc,bigram) then "
        "doc), no UDFs; the repetition family of C4/Gopher quality rules."
    ),
)
def q75_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    bgs = F.transform(
        F.sequence(F.lit(0), n - F.lit(2)),
        lambda i: F.concat_ws(
            " ", F.element_at("w", i + 1), F.element_at("w", i + 2)
        ),
    )
    bigrams = words.select(
        "doc_id",
        F.explode(
            F.when(n >= 2, bgs).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    counts = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    frac = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    return (
        counts.groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n"))
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_n",
            frac.alias("top_bigram_frac"),
            (frac > 0.18).alias("repetitive"),
        )
    )


@register(
    "q76_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS l2_norm
      FROM v
    ),
    u AS (
      SELECT vec_id, l2_norm,
             list_transform(e, x -> x / l2_norm) AS un
      FROM n WHERE l2_norm > 0
    ),
    q AS (
      SELECT vec_id, l2_norm, un,
             list_transform(un, x -> CAST(floor(x * 127.0 + 0.5) AS BIGINT)) AS qv
      FROM u
    )
    SELECT vec_id, l2_norm,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_max(list_transform(list_zip(qv, un),
                    p -> abs(CAST(p[1] AS DOUBLE) / 127.0 - p[2]))) AS max_abs_err
    FROM q
    """,
    doc=(
        "Embedding compression: L2-normalize then symmetric int8 "
        "quantization (scale 127, explicit floor(x*127+0.5) so both "
        "engines round identically) + max reconstruction error. "
        "Zero-shuffle projection; the storage-side half of an ANN "
        "index build (4x smaller vectors before q36/q67 bucketing)."
    ),
)
def q76_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # One HOF stage per projection (no CSE inside lambdas).
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n = v.select(
        "vec_id",
        "e",
        F.sqrt(
            F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("l2_norm"),
    )
    u = n.filter(F.col("l2_norm") > 0).select(
        "vec_id",
        "l2_norm",
        F.transform("e", lambda x: x / F.col("l2_norm")).alias("un"),
    )
    q = u.select(
        "vec_id",
        "l2_norm",
        "un",
        F.transform(
            "un", lambda x: F.floor(x * 127.0 + 0.5).cast("bigint")
        ).alias("qv"),
    )
    err = F.array_max(
        F.zip_with(
            "qv", "un", lambda a, b: F.abs(a.cast("double") / 127.0 - b)
        )
    )
    return q.select(
        "vec_id",
        "l2_norm",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        err.alias("max_abs_err"),
    )


@register(
    "q78_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5('strat-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE lang WHEN 'en' THEN '40000000'
                      WHEN 'zh' THEN '80000000'
                      WHEN 'es' THEN 'c0000000'
                      WHEN 'de' THEN 'e6666666'
                      WHEN 'fr' THEN '19999999'
                      ELSE '00000000' END
    """,
    doc=(
        "Deterministic stratified sampling: per-language keep rates "
        "(en .25 / zh .5 / es .75 / de .9 / fr .1) applied via the q64 "
        "md5-prefix trick, so the sample is reproducible across "
        "engines and cluster sizes and needs no RNG state or "
        "count-first pass (vs sampleBy, kept as the one-pass "
        "non-deterministic alternative in operators/textstats.py). "
        "The rebalance step when one language dominates a corpus."
    ),
)
def q78_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": "40000000", "zh": "80000000", "es": "c0000000",
             "de": "e6666666", "fr": "19999999"}
    thr = F.element_at(
        F.create_map(*[F.lit(x) for kv in rates.items() for x in kv]),
        F.col("lang"),
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit("strat-v1"), F.col("doc_id").cast("string"))), 1, 8
    )
    return docs.filter(bucket < F.coalesce(thr, F.lit("00000000"))).select(
        "doc_id", "lang"
    )


@register(
    "q79_edit_distance_pairs",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substring(a.text, 1, 32), substring(b.text, 1, 32))
             AS edit_dist,
           levenshtein(substring(a.text, 1, 32), substring(b.text, 1, 32)) <= 8
             AS similar
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
    doc=(
        "Edit-distance (Levenshtein) near-dup scoring over adjacent doc "
        "pairs, on a 32-char prefix so the O(len^2) DP stays bounded -- "
        "the character-level complement to token-level Jaccard (q32). "
        "At 100 TB the same scorer runs as the verify stage behind an "
        "LSH candidate generator (q33), never all-pairs."
    ),
)
def q79_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 32).alias("ta")
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), F.substring("text", 1, 32).alias("tb")
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    d = F.levenshtein("ta", "tb")
    return pairs.select(
        "id_a", "id_b", d.alias("edit_dist"), (d <= 8).alias("similar")
    )


# q80's df ceiling: a token whose posting list would exceed this is
# dropped BEFORE the collect_set accumulator ever sees it (the
# cap_baskets discipline — the literal posting list is the product
# here, so hot tokens cannot be kept; q192's additive digest is the
# form that keeps them).  Mirrored in the DuckDB oracle's HAVING and
# pinned by tests/test_query_extras.py's sync test.  Non-binding on
# the driver corpora (max df 3923 at sf0.1); the drop path is
# exercised by a synthetic hot token in the unit test.
MAX_DF = 10_000


@register(
    "q80_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    pairs AS (SELECT DISTINCT doc_id, token FROM toks)
    SELECT p.token,
           COUNT(*) AS df,
           (SELECT COUNT(*) FROM toks t WHERE t.token = p.token) AS tf,
           string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id)
             AS postings
    FROM pairs p
    GROUP BY p.token
    -- df ceiling, mirrors the Spark side's mechanical hot-token drop
    HAVING COUNT(*) <= {MAX_DF}
    """,
    doc=(
        "Inverted-index build: token -> document frequency, total term "
        "frequency, and the ordered posting list (sort_array over "
        "collect_set, serialized). One explode + one shuffle on token; "
        "the df ceiling is MECHANICAL (r10, previously a docstring "
        "claim): stopword-grade tokens are found by a count-only "
        "pre-aggregate and dropped by broadcast anti-join BEFORE the "
        "posting accumulator, mirrored in the oracle's HAVING <= "
        "MAX_DF, so no hot token can build a corpus-sized array in "
        "one reducer. The pre-pass re-reads the pruned two-column "
        "scan - cheaper at any scale than caching the exploded token "
        "stream, the same trade cap_baskets makes. The guard join is "
        "UN-HINTED by default (r11, ADVICE r10): the hot set is the "
        "Zipf head, which GROWS with the corpus (unlike basket "
        "whales), so the planner decides - AQE broadcasts while the "
        "head fits, shuffles when it outgrows that, and the "
        "downstream groupBy('token') exchange absorbs the shuffled "
        "form's partitioning (the q192 freq-attach contract); "
        "broadcast_hot=True is the opt-in small-corpus hint. q192 is "
        "the digest-form twin that KEEPS hot tokens by collapsing "
        "postings additively."
    ),
)
def q80_inverted_index(
    spark: SparkSession, sf_dir: str, max_df: int = MAX_DF,
    broadcast_hot: bool = False,
    drop_observation=None,
) -> DataFrame:
    """Only the default ``max_df`` (== MAX_DF) is oracle-verified: the
    registered DuckDB oracle freezes the ceiling as a literal HAVING at
    registration time (kept in lockstep by the sync test), so calls
    with a non-default ``max_df`` are covered by the unit tests, not
    the driver's hash gate.

    Truncation is observable (ADVICE r10): pass
    ``drop_observation=pyspark.sql.Observation()`` and after any
    action on the result ``observation.get["n_dropped_tokens"]`` is
    the number of distinct tokens the df ceiling removed — a
    CollectMetrics node on the guard side, zero extra jobs at any
    scale.  Default None keeps the plan free of the node (metric
    names must be unique per query, so an always-on name would break
    callers composing two q80 plans into one query).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    # Hot-token guard: the pre-aggregate's countDistinct rewrites to a
    # two-stage distinct aggregate (constant state per group — never a
    # posting-sized accumulator).  Unlike basket whales, the hot set
    # under a FIXED df ceiling grows with the corpus (the Zipf head:
    # at 10^12 docs, every token down to rank ~10^8 exceeds df 10^4),
    # so the default join is UN-HINTED — the planner/AQE broadcasts
    # only while the head actually fits — and broadcast_hot=True is
    # the explicit small-corpus opt-in.  Either way the downstream
    # groupBy("token") exchange absorbs the shuffled form's
    # hash-partitioning — the q197/bfs_levels degradation contract.
    hot = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("token")
    )
    if drop_observation is not None:
        hot = hot.observe(
            drop_observation, F.count(F.lit(1)).alias("n_dropped_tokens")
        )
    hot = F.broadcast(hot) if broadcast_hot else hot
    toks = toks.join(hot, "token", "left_anti")
    # df comes free as size(collect_set): no countDistinct, so no
    # distinct-expand — the groupBy stays a single exchange.
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_set("doc_id")).alias("_ids"),
    )
    return agg.select(
        "token",
        F.size("_ids").cast("bigint").alias("df"),
        "tf",
        F.array_join(
            F.transform("_ids", lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


@register(
    "q82_tfidf_keywords",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, rank, token, tf, df
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, token) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    doc=(
        "TF-IDF keyword extraction: per-(doc,token) term frequency, "
        "per-token document frequency (tiny, broadcast back), smoothed "
        "idf, top-3 terms per doc via WindowGroupLimit. Output carries "
        "only integer-exact columns (rank proves the scoring) because "
        "JVM and DuckDB ln() differ in the last ulp; score values are "
        "asserted Spark-side in tests/test_query_extras.py."
    ),
)
def q82_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # Corpus size as a broadcast 1-row side, not a driver .count():
    # keeps the whole query one job with zero driver round-trips.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df), "token").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "token",
        "tf",
        "df",
        (
            F.col("tf")
            * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0))
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df")
    )


@register(
    "q83_token_budget_mix",
    oracle="""
    WITH sized AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
             md5('mix-v1' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    laid AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM sized
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM laid WHERE cum_tokens <= 4000
    """,
    doc=(
        "Corpus mixing under a token budget: per-source quota fill "
        "(4000 tokens) in md5 order — a deterministic uniform shuffle, "
        "so the selection is an unbiased sample that lands exactly on "
        "the budget, reproducible across engines and cluster sizes. "
        "One window shuffle on source; at 100 TB the per-source cumsum "
        "shards like q71's packing window."
    ),
)
def q83_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.concat(F.lit("mix-v1"), F.col("doc_id").cast("string"))).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 4000)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@register(
    "q85_vocab_encode",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
      SELECT doc_id, i AS pos, w[i] AS token
      FROM words, unnest(range(1, len(w) + 1)) AS t(i)
    ),
    vocab AS (
      SELECT token, id FROM (
        SELECT token,
               row_number() OVER (ORDER BY COUNT(*) DESC, token) - 1 AS id
        FROM toks GROUP BY token
      ) WHERE id < 16
    ),
    enc AS (
      SELECT t.doc_id, t.pos, coalesce(v.id, -1) AS id
      FROM toks t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(CASE WHEN id = -1 THEN 1 END) AS n_unk,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids
    FROM enc GROUP BY doc_id
    """,
    doc=(
        "Vocabulary build + token-id encoding: top-16 tokens by corpus "
        "frequency (rank ties broken by token) become ids 0-15, "
        "everything else maps to -1 (UNK); each document re-emerges as "
        "its ordered id sequence with token/UNK counts. The global "
        "rank window runs on the token-frequency table, which is "
        "vocabulary-sized (tiny) by construction; the encode join "
        "broadcasts the vocab, so the corpus is never shuffled — the "
        "tokenizer-dictionary step between q38's counting and q70's "
        "chunking."
    ),
)
def q85_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # Top-16 via TakeOrderedAndProject then driver-side id assignment:
    # a vocabulary is driver-sized by definition, and this avoids the
    # single-partition global rank window a row_number() would need.
    top = counts.orderBy(F.col("n").desc(), "token").limit(16).collect()
    vocab = spark.createDataFrame(
        [(r.token, i) for i, r in enumerate(top)], "token string, id int"
    )
    enc = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(-1)).alias("id")
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("id") == -1, 1)).alias("n_unk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s.id.cast("string"),
            ),
            ",",
        ).alias("ids"),
    )


def _pretrain_oracle() -> str:
    """Oracle for q87: the q31-dedup, q72-decontamination, q70-chunk
    and q71-pack fragments composed over a ``keepers`` CTE."""
    from flink_s3_read_write_spark.operators.chunking import chunk_oracle_sql

    chunk_part = chunk_oracle_sql(64, 8).strip()
    assert chunk_part.startswith("WITH ")
    chunk_part = chunk_part.replace("FROM documents", "FROM keepers")
    # splice: WITH <our CTEs>, <toks/chunks CTEs> <final chunk select>
    chunk_ctes, chunk_select = chunk_part.rsplit("SELECT doc_id,", 1)
    norm = _NORM_SQL.format(c="text")
    return f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS sh
      FROM words, unnest(range(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 4
    ),
    bench AS (
      SELECT sh, doc_id AS bench_id FROM shingles WHERE doc_id % 31 = 0
    ),
    contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM shingles s JOIN bench b ON s.sh = b.sh AND s.doc_id <> b.bench_id
    ),
    keep AS (
      SELECT min(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   coalesce(nullif({norm}, ''),
                            '#' || CAST(doc_id AS VARCHAR)) AS nk
            FROM documents)
      GROUP BY nk
    ),
    keepers AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN keep USING (doc_id)
      WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    {chunk_ctes.removeprefix("WITH ").rstrip()},
    chunked AS (SELECT doc_id, {chunk_select}),
    laid AS (
      SELECT *, CAST(doc_id % 16 AS INT) AS shard,
             SUM(n_chunk_tokens) OVER (PARTITION BY doc_id % 16
                 ORDER BY doc_id, chunk_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chunk_tokens AS s
      FROM chunked)
    SELECT doc_id, chunk_id, chunk_text, n_chunk_tokens, shard,
           CAST(s // 256 AS BIGINT) AS pack_id
    FROM laid
    """


@register(
    "q87_pretrain_pipeline",
    oracle=None,  # injected below (needs the chunk fragment at import time)
    doc=(
        "FLAGSHIP COMPOSITE, end-to-end pretraining data prep in ONE "
        "Catalyst plan: normalized dedup keepers (q31) minus "
        "decontaminated docs (q72), chunked into 64/8 token windows "
        "(q70) and packed to 256-token budgets (q71). Each stage is "
        "the already-oracle-checked operator. The branches re-scan the "
        "pruned parquet (cheaper than materializing at 100 TB); the "
        "only wide ops are the dedup shuffle, the broadcast "
        "decontamination join, and the sharded packing window "
        "(4 exchanges / 4 broadcasts total, PLANS.md)."
    ),
)
def q87_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.chunking import (
        chunk_documents,
        pack_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    keeper_ids = D.normalized_dedup(docs).select("doc_id")
    contaminated = q72_decontaminate(spark, sf_dir).select("doc_id")
    clean = (
        docs.select("doc_id", "text")
        .join(keeper_ids, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
    )
    return pack_chunks(chunk_documents(clean), budget=256)


def _inject_pretrain_oracle() -> None:
    from flink_s3_read_write_spark.queries import _REGISTRY, Query

    q = _REGISTRY["q87_pretrain_pipeline"]
    _REGISTRY["q87_pretrain_pipeline"] = Query(
        q.name, q.fn, _pretrain_oracle(), q.doc
    )


_inject_pretrain_oracle()


@register(
    "q92_gopher_quality",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    unigrams AS (
      SELECT doc_id, u, COUNT(*) AS c
      FROM words, unnest(w) AS t(u)
      GROUP BY doc_id, u
    ),
    uni AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS word_cnt,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
               AS dup_word_frac,
             CAST(SUM(c * len(u)) AS DOUBLE) / SUM(c) AS mean_word_len
      FROM unigrams GROUP BY doc_id
    ),
    trigrams AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS tg
      FROM words, unnest(range(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 3
    ),
    tri AS (
      SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_trigram_frac
      FROM (SELECT doc_id, tg, COUNT(*) AS c FROM trigrams GROUP BY doc_id, tg)
      GROUP BY doc_id
    )
    SELECT u.doc_id, u.word_cnt, u.dup_word_frac, u.mean_word_len,
           coalesce(t.top_trigram_frac, 0.0) AS top_trigram_frac,
           (u.word_cnt >= 5 AND u.word_cnt <= 100000
            AND u.mean_word_len >= 2 AND u.mean_word_len <= 12
            AND u.dup_word_frac < 0.75
            AND coalesce(t.top_trigram_frac, 0.0) < 0.18) AS keep
    FROM uni u LEFT JOIN tri t ON u.doc_id = t.doc_id
    """,
    doc=(
        "Gopher-style quality rule suite (extends q75's single rule): "
        "word count bounds, mean word length band, duplicate-word "
        "fraction, top-trigram fraction — combined into one keep flag. "
        "Two explode→count aggregates keyed on doc_id (unigram and "
        "trigram) joined back — both shuffles are partial-aggregated "
        "map-side and the join keys share the doc_id partitioning. All "
        "ratios are bigint-exact sums divided once in double, so both "
        "engines compute identical bits. At 100 TB this runs as ONE "
        "pass before any dedup (cheap rules first: each dropped doc "
        "skips the expensive MinHash/embedding stages downstream)."
    ),
)
def q92_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    uni_counts = (
        w.select("doc_id", F.explode("w").alias("u"))
        .groupBy("doc_id", "u")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = uni_counts.groupBy("doc_id").agg(
        F.sum("c").alias("word_cnt"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c")
        ).alias("dup_word_frac"),
        (F.sum(F.col("c") * F.length("u")).cast("double") / F.sum("c")).alias(
            "mean_word_len"
        ),
    )
    tg = w.filter(F.size("w") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 3), "
                "i -> concat_ws(' ', w[i], w[i + 1], w[i + 2]))"
            )
        ).alias("tg"),
    )
    tri = (
        tg.groupBy("doc_id", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_trigram_frac"))
    )
    joined = uni.join(tri, "doc_id", "left").select(
        "doc_id",
        "word_cnt",
        "dup_word_frac",
        "mean_word_len",
        F.coalesce("top_trigram_frac", F.lit(0.0)).alias("top_trigram_frac"),
    )
    keep = (
        (F.col("word_cnt") >= 5)
        & (F.col("word_cnt") <= 100000)
        & (F.col("mean_word_len") >= 2)
        & (F.col("mean_word_len") <= 12)
        & (F.col("dup_word_frac") < 0.75)
        & (F.col("top_trigram_frac") < 0.18)
    )
    return joined.withColumn("keep", keep)


@register(
    "q97_semdedup",
    # Full oracle since round 5: the md5-seeded hyperplane engine (see
    # q36) makes the single-table 5-bit buckets engine-independent, so
    # DuckDB replays bucket assignment, min-id representative
    # selection, star-vs-rep cosine, and the keep rule exactly.
    oracle="""
    WITH hyper AS (
      SELECT j,
             list_transform(range(0, 64), d ->
               ('0x' || substr(md5('hp-' || CAST(j AS VARCHAR)
                                   || '-' || CAST(d AS VARCHAR)), 1, 15))::BIGINT
               / 576460752303423488.0 - 1.0) AS h
      FROM range(0, 5) jj(j)
    ),
    dots AS (
      SELECT e.vec_id, hy.j,
             list_sum(list_transform(list_zip(e.embedding, hy.h),
                                     x -> CAST(x[1] AS DOUBLE) * x[2])) AS dp
      FROM embeddings e, hyper hy
    ),
    buck AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dp >= 0 THEN 1 << (4 - j) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id
    ),
    reps AS (SELECT bucket, MIN(vec_id) AS rep_id FROM buck GROUP BY bucket),
    paired AS (
      SELECT b.vec_id, b.bucket, r.rep_id,
             list_sum(list_transform(list_zip(v.embedding, rv.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(v.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(rv.embedding,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine_to_rep
      FROM buck b
      JOIN reps r ON r.bucket = b.bucket
      JOIN embeddings v ON v.vec_id = b.vec_id
      JOIN embeddings rv ON rv.vec_id = r.rep_id
    )
    SELECT vec_id, bucket, rep_id, cosine_to_rep,
           (vec_id = rep_id OR cosine_to_rep <= 0.9) AS keep
    FROM paired
    """,
    doc=(
        "SemDeDup-style semantic dedup over embeddings: deterministic "
        "sign-LSH buckets play the paper's k-means clusters, one "
        "representative (min vec_id) kept per bucket, members with "
        "cosine-to-representative > 0.9 dropped. O(n) comparisons — "
        "star-vs-representative, never within-cluster pairwise. "
        "md5-seeded hyperplanes -> the DuckDB oracle replays the whole "
        "pass; planted-duplicate semantics in tests/test_similarity.py."
    ),
)
def q97_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup_keep_list(emb, dim=64, bits=5, threshold=0.9, hash_src="md5")


@register(
    "q102_linear_classifier",
    oracle="""
    WITH toks AS (
      SELECT doc_id, u AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           unnest(w) AS t(u)
    ),
    weighted AS (
      SELECT doc_id,
             ((ascii(substring(md5('w-v1' || tok), 1, 1)) * 131
               + ascii(substring(md5('w-v1' || tok), 2, 1))) * 131
               + ascii(substring(md5('w-v1' || tok), 3, 1))) % 1001 - 500 AS w
      FROM toks
    )
    SELECT doc_id,
           CAST(SUM(w) AS BIGINT) AS score,
           COUNT(*) AS n_terms,
           SUM(w) > 0 AS positive
    FROM weighted
    GROUP BY doc_id
    """,
    doc=(
        "Linear text-classifier inference (the fastText/quality-filter "
        "shape): every token carries a weight looked up by feature "
        "hash, a document's score is the sparse dot product, the label "
        "a sign test. Weights here are derived from md5 bytes so both "
        "engines agree bit-for-bit and the whole pass is integer-exact "
        "— in production the same plan applies a broadcast weight "
        "table or a hash-derived embedding row instead. One explode + "
        "one doc_id shuffle with map-side partial sums; no Python in "
        "the hot path, which is what makes model-based filtering "
        "viable inline at 100 TB rather than as a separate service."
    ),
)
def q102_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = F.md5(F.concat(F.lit("w-v1"), F.col("tok")))
    w = (
        (
            F.ascii(F.substring(h, 1, 1)) * 131 + F.ascii(F.substring(h, 2, 1))
        ) * 131
        + F.ascii(F.substring(h, 3, 1))
    ) % 1001 - 500
    weighted = toks.select("doc_id", w.cast("bigint").alias("w"))
    return weighted.groupBy("doc_id").agg(
        F.sum("w").alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
        (F.sum("w") > 0).alias("positive"),
    )


@register(
    "q113_unigram_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    cf AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(cf.cnt) AS BIGINT) AS sum_tf,
           MIN(cf.cnt) AS min_tf,
           CAST(SUM(cf.cnt) AS DOUBLE) / COUNT(*) AS mean_tf
    FROM toks t JOIN cf ON t.token = cf.token
    GROUP BY t.doc_id
    """,
    doc=(
        "Unigram language-model scoring (the KenLM-perplexity-filter "
        "shape): the corpus's own token frequencies are the model, "
        "broadcast back onto the token stream, reduced per document. "
        "Two shuffles (vocab build keyed on token, doc reduce keyed on "
        "doc_id); the vocabulary table is tiny by Zipf's law, so the "
        "score join is a broadcast and the corpus is never re-shuffled. "
        "Output stays integer-exact (sum/min of counts; one double "
        "division at the end) because JVM and DuckDB ln() differ in the "
        "last ulp — production swaps SUM(cnt) for SUM(ln p) and a "
        "perplexity threshold, same plan."
    ),
)
def q113_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(F.broadcast(cf), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_tf"),
            F.min("cnt").alias("min_tf"),
            (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mean_tf"),
        )
    )


@register(
    "q114_centroid_distance",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096 + 0.5) AS BIGINT) AS xi,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    mu AS (
      SELECT label, pos, CAST(SUM(xi) AS BIGINT) AS sxi, COUNT(*) AS n
      FROM e GROUP BY label, pos
    ),
    d AS (
      SELECT e.vec_id, e.label, mu.n,
             mu.n * e.xi - mu.sxi AS dev
      FROM e JOIN mu ON e.label = mu.label AND e.pos = mu.pos
    )
    SELECT vec_id, label, MAX(n) AS n,
           CAST(CAST(SUM(CAST(dev * dev AS DECIMAL(38,0))) AS DECIMAL(38,0))
                AS VARCHAR) AS dist2_num
    FROM d GROUP BY vec_id, label
    """,
    doc=(
        "Per-class centroid + distance-to-own-centroid over the "
        "embedding column — the outlier-pruning / cluster-quality pass "
        "of an embedding-based curation pipeline (SemDeDup's cluster "
        "step with labels standing in for k-means assignments). "
        "Dimension-as-row formulation: posexplode, per-(label,dim) "
        "centroid aggregate, broadcast the tiny centroid table back, "
        "per-vector squared-distance sum. Cross-engine exactness: "
        "inputs are quantized to integers (floor(x*4096+0.5) — exact "
        "in IEEE double on both engines) and the distance is carried "
        "as the n²-scaled integer numerator sum((n·xi − Σxi)²), so no "
        "double division or double→decimal cast ever happens; real "
        "dist2 = dist2_num/(n²·4096²), recoverable losslessly. The "
        "numerator is emitted as a STRING: INT128-scale values survive "
        "every client fetch path that way (pandas coerces DuckDB "
        "DECIMAL(38,0)/HUGEINT to lossy float64, breaking exact "
        "comparison).At "
        "100 TB the explode multiplies rows by dim, so the scale path "
        "computes the same centroid table via per-partition NumPy "
        "partials (mapInPandas) while this plan remains the semantic "
        "reference."
    ),
)
def q114_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * 4096 + 0.5).cast("bigint").alias("xi"),
    )
    mu = e.groupBy("label", "pos").agg(
        F.sum("xi").alias("sxi"), F.count(F.lit(1)).alias("n")
    )
    dev = (F.col("n") * F.col("xi") - F.col("sxi")).cast("decimal(19,0)")
    return (
        e.join(F.broadcast(mu), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.max("n").alias("n"),
            F.sum((dev * dev).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("dist2_num"),
        )
    )


@register(
    "q115_int8_cosine_pairs",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> CAST(floor(x / sqrt(list_sum(list_transform(embedding,
                          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                          * 127.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
      WHERE list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                p -> p[1] * p[2])) AS BIGINT) AS dot_q,
           CAST(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                p -> p[1] * p[2])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE)))
             AS DOUBLE) AS cos_q
    FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
    """,
    doc=(
        "Quantized-vector similarity: int8-quantize (q76's scheme) then "
        "integer dot-product cosine over adjacent-id pairs — the verify "
        "stage of an ANN pipeline run entirely on the compressed "
        "representation (4x less shuffle traffic than float32, and the "
        "dot product becomes exact integer arithmetic, so the oracle "
        "hash matches bit-for-bit with no decimal routing). The "
        "adjacent-id self-join stands in for an LSH/IVF candidate list "
        "(q36/q67 produce real ones); at scale both sides arrive "
        "pre-bucketed so the join never shuffles the corpus."
    ),
)
def q115_int8_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    n = v.select(
        "vec_id", "e",
        F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    q = n.filter(F.col("nrm") > 0).select(
        "vec_id",
        F.transform(
            "e", lambda x: F.floor(x / F.col("nrm") * 127.0 + 0.5).cast("bigint")
        ).alias("qv"),
    )
    a = q.select(F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"))
    b = q.select(F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x,
    )
    nsq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a", "id_b",
            dot.alias("dot_q"),
            (dot.cast("double")
             / (F.sqrt(nsq("qa").cast("double")) * F.sqrt(nsq("qb").cast("double")))
             ).alias("cos_q"),
        )
    )


@register(
    "q123_temperature_mix",
    # Cross-engine exactness: n_min/n_s is one correctly-rounded IEEE
    # division, sqrt is correctly rounded by the standard, x*2^32 is an
    # exact power-of-two scale and floor is exact — so the per-source
    # integer threshold is bit-identical on both engines, and the md5
    # prefix compare is pure string order on fixed-width lowercase hex.
    oracle="""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    m AS (SELECT MIN(n_docs) AS n_min FROM counts),
    rates AS (
      SELECT lang, n_docs,
             format('{:08x}', least(CAST(floor(
                 sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
                 * 4294967296.0) AS BIGINT), 4294967295)) AS thr
      FROM counts, m
    )
    SELECT d.doc_id, d.lang, r.n_docs AS lang_size
    FROM documents d JOIN rates r ON r.lang = d.lang
    WHERE substring(md5('mix-t-v1' || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr
    """,
    doc=(
        "Temperature-based language mixing (alpha = 0.5, the mT5-style "
        "multilingual rebalance): per-language keep probability "
        "(n_min/n_lang)^alpha derived FROM the data — one tiny count "
        "aggregate, broadcast back as an md5-prefix threshold, so "
        "dominant languages are downsampled toward the smallest and the "
        "mixture needs no RNG state, no count-first driver pass, and is "
        "reproducible on any cluster size. The count-derived-rate shape "
        "is the delta vs q78's fixed-rate stratified sample. At 100 TB "
        "the rates table is |languages| rows — always a broadcast."
    ),
)
def q123_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # counts (|languages| rows) feeds both the n_min scalar and the
    # rates projection; cached, the corpus is scanned once for counting
    # and once for the filtered output — not three times.
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).cache()
    nmin = counts.agg(F.min("n_docs").alias("n_min"))
    thr_num = F.floor(
        F.sqrt(F.col("n_min").cast("double") / F.col("n_docs").cast("double"))
        * F.lit(4294967296.0)
    ).cast("bigint")
    rates = (
        counts.join(F.broadcast(nmin))
        .select(
            "lang",
            "n_docs",
            F.format_string("%08x", F.least(thr_num, F.lit(4294967295))).alias("thr"),
        )
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit("mix-t-v1"), F.col("doc_id").cast("string"))), 1, 8
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("thr"))
        .select("doc_id", "lang", F.col("n_docs").alias("lang_size"))
    )


@register(
    "q124_source_overlap",
    # Integer-only output; the informative-shingle cap (<= 10 sources)
    # is an exact integer filter on both engines.
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, g
      FROM (
        SELECT source,
               unnest(CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [] END) AS g
        FROM (SELECT source,
                     list_slice(string_split({{norm}}, ' '), 1, 10000) AS toks
              FROM documents) t
      )
    ),
    informative AS (
      SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 10
    ),
    kept AS (SELECT sh.source, sh.g FROM sh JOIN informative USING (g))
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) AS shared_shingles
    FROM kept a JOIN kept b ON a.g = b.g AND a.source < b.source
    GROUP BY a.source, b.source
    """.replace("{norm}", _NORM_SQL.format(c="text")),
    doc=(
        "Cross-source contamination matrix: which sources share verbatim "
        "3-word shingles (who copies from whom) — the corpus-provenance "
        "audit before mixing. Inverted-index self-join on the shingle, "
        "with a frequency cap that drops shingles appearing in > 10 "
        "sources first: boilerplate is uninformative for provenance AND "
        "it is exactly what would blow the pair expansion up at scale — "
        "the same guard as the LSH bucket cap. Distinct-ing (source, "
        "shingle) BEFORE the join bounds the join input by vocabulary, "
        "not corpus size."
    ),
)
def q124_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The distinct (source, shingle) table is referenced THREE times
    # (frequency cap, both self-join sides); cache it.  The per-doc
    # shingle sets come from the shared doc_shingle_sets cache (r09) —
    # the tokenize+shingle pass runs once per session for the whole
    # text family, and attaching `source` is one thin dimension join
    # (doc-level dedup already done in the set table; the distinct
    # here collapses to the source grain).
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sh = (
        doc_shingle_sets(spark, sf_dir)
        .join(docs, "doc_id")
        .select("source", F.explode("toks").alias("g"))
        .distinct()
        .cache()
    )
    informative = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n_src")).filter(
        F.col("n_src") <= 10
    )
    # Materialize the capped posting table: BOTH self-join sides read
    # it, and uncached each side re-runs the frequency aggregate + the
    # informative join (the q195 r09 per-side audit pattern).
    kept = sh.join(informative.select("g"), "g").cache()
    a = kept.select(F.col("g").alias("g"), F.col("source").alias("src_a"))
    b = kept.select(F.col("g").alias("g2"), F.col("source").alias("src_b"))
    return (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


@register(
    "q126_quality_keeper_dedup",
    # max_by/arg_max need a total order for determinism: the key is the
    # exact integer scalar q*2^32 - doc_id (quality major, smallest-id
    # tiebreak) — integer-only, so no cross-engine tie ambiguity.
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_NORM_SQL.format(c='text')} AS norm,
             length(text) AS q
      FROM documents
    ),
    keyed AS (
      SELECT *, CASE WHEN norm = '' THEN '#' || CAST(doc_id AS VARCHAR)
                     ELSE norm END AS grp
      FROM scored
    )
    SELECT grp AS norm_text,
           arg_max(doc_id, q * 4294967296 - doc_id) AS keeper_id,
           MAX(q) AS keeper_quality,
           COUNT(*) AS n_dups
    FROM keyed
    GROUP BY grp
    """,
    doc=(
        "Quality-keeper dedup: like q31's normalized dedup but the "
        "survivor is the HIGHEST-QUALITY member of each duplicate group "
        "(longest text; ties break to the smallest doc_id via the exact "
        "integer sort key [q, -doc_id]), not the smallest id — the "
        "production choice when near-duplicates differ in truncation or "
        "boilerplate. Same single digest-keyed shuffle as q31: max_by "
        "ships one (id, quality) pair per group through the partial "
        "aggregate, never the texts. Empty normal forms fall back to "
        "per-doc groups (q31's multilingual-safety rule)."
    ),
)
def q126_quality_keeper_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = D.normalize_text(F.col("text"))
    grp = F.when(norm == "", F.concat(F.lit("#"), F.col("doc_id").cast("string"))).otherwise(
        norm
    )
    q = F.length("text")
    return (
        docs.select(
            grp.alias("norm_text"),
            F.col("doc_id"),
            q.alias("q"),
        )
        .groupBy("norm_text")
        .agg(
            F.max_by(
                "doc_id",
                F.col("q").cast("long") * F.lit(4294967296) - F.col("doc_id"),
            ).alias("keeper_id"),
            F.max("q").alias("keeper_quality"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


@register(
    "q130_salted_hot_key_agg",
    # The salt is internal plumbing: two-phase (key, salt) -> key
    # aggregation must be EXACTLY the plain one-phase aggregate (sum
    # merges sums, count merges as sum, min/max idempotent), so the
    # oracle is the unsalted SQL — the driver gate proves the skew
    # machinery changes the plan, not the answer.
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Skew-safe two-phase aggregation under the correctness gate: "
        "events keyed by event_type (5 values over the whole log — every "
        "key is a hot key) aggregate on (key, salt-of-event_id) first, "
        "spreading each key's state over 16 reducers, then merge partials "
        "per key. Identical answer to the plain aggregate by construction "
        "(algebraic merge), which is exactly what the oracle asserts; the "
        "plan delta (extra narrow exchange, even reducer load) is what "
        "you buy at 100 TB when one reducer would otherwise own a "
        "boilerplate-sized key. Sum routes through DECIMAL pre-salt so "
        "the merged double is partition-order-independent."
    ),
)
def q130_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(30,6)")
    )
    out = salted_aggregate(
        ev,
        key="event_type",
        salt_src=F.col("event_id"),
        aggs={
            "n_events": ("event_id", "count"),
            "total_value_dec": ("value_dec", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        buckets=16,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value_dec").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


@register(
    "q134_curate_mix_pipeline",
    # Composition of q126 (quality-keeper dedup) and q123 (temperature
    # mix) as ONE plan: survivors of the dedup feed the per-language
    # counts AND the final filter, so the mixture rates reflect the
    # deduplicated corpus, not the raw one.
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             CASE WHEN {_NORM_SQL.format(c='text')} = ''
                  THEN '#' || CAST(doc_id AS VARCHAR)
                  ELSE {_NORM_SQL.format(c='text')} END AS grp,
             length(text) AS q
      FROM documents
    ),
    keepers AS (
      SELECT arg_max(doc_id, q * 4294967296 - doc_id) AS doc_id
      FROM keyed GROUP BY grp
    ),
    surv AS (
      SELECT k.doc_id, k.lang FROM keyed k JOIN keepers USING (doc_id)
    ),
    counts AS (SELECT lang, COUNT(*) AS n_docs FROM surv GROUP BY lang),
    m AS (SELECT MIN(n_docs) AS n_min FROM counts),
    rates AS (
      SELECT lang,
             format('{{:08x}}', least(CAST(floor(
                 sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))
                 * 4294967296.0) AS BIGINT), 4294967295)) AS thr
      FROM counts, m
    )
    SELECT s.doc_id, s.lang
    FROM surv s JOIN rates r ON r.lang = s.lang
    WHERE substring(md5('mix-t-v1' || CAST(s.doc_id AS VARCHAR)), 1, 8) < r.thr
    """,
    doc=(
        "Curate-then-mix composite: quality-keeper dedup (q126) feeds "
        "temperature language mixing (q123) in one Catalyst plan — the "
        "mixture rates are computed over the DEDUPLICATED corpus, which "
        "is the order production pipelines need (dedup first, or "
        "duplicate-heavy languages get over-weighted). One dedup "
        "shuffle, one tiny count aggregate, one broadcast probe; the "
        "corpus is never re-shuffled for the mix."
    ),
)
def q134_curate_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = D.normalize_text(F.col("text"))
    grp = F.when(norm == "", F.concat(F.lit("#"), F.col("doc_id").cast("string"))).otherwise(
        norm
    )
    keyed = docs.select(
        "doc_id", "lang", grp.alias("grp"), F.length("text").alias("q")
    )
    keepers = keyed.groupBy("grp").agg(
        F.max_by(
            "doc_id", F.col("q").cast("long") * F.lit(4294967296) - F.col("doc_id")
        ).alias("doc_id")
    )
    surv = keyed.join(keepers.select("doc_id"), "doc_id").select("doc_id", "lang").cache()
    counts = surv.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).cache()
    nmin = counts.agg(F.min("n_docs").alias("n_min"))
    thr_num = F.floor(
        F.sqrt(F.col("n_min").cast("double") / F.col("n_docs").cast("double"))
        * F.lit(4294967296.0)
    ).cast("bigint")
    rates = counts.join(F.broadcast(nmin)).select(
        "lang",
        F.format_string("%08x", F.least(thr_num, F.lit(4294967295))).alias("thr"),
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit("mix-t-v1"), F.col("doc_id").cast("string"))), 1, 8
    )
    return (
        surv.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("thr"))
        .select("doc_id", "lang")
    )


@register(
    "q135_salted_skew_join",
    # Like q130 for aggregation: the salt is internal plumbing, so the
    # salted fact⋈dim join (dim replicated buckets x, fact salted by a
    # deterministic row hash, join on (key, salt)) must produce EXACTLY
    # the plain join's row set — the oracle is the unsalted SQL.  The
    # plan delta (replicated dim, hot keys spread over `buckets`
    # reducers) is asserted in tests/test_plans.py.
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_orderpriority, o.o_orderstatus,
           l.l_extendedprice * (1 - l.l_discount) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    """,
    doc=(
        "Skew-safe equi-join under the correctness gate: lineitem (fact) "
        "joined to orders (dim, too big to broadcast in the 100 TB "
        "scenario) on orderkey via salted_join — dim replicated 8x with "
        "an explicit salt, fact salted by xxhash64(linenumber) mod 8, "
        "join on (key, salt). A hot orderkey's rows land on 8 reducers "
        "instead of one; the row set is identical to the plain join by "
        "construction, which is exactly what the oracle asserts."
    ),
)
def q135_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority", "o_orderstatus"
    )
    joined = salted_join(
        li, orders, "l_orderkey", fact_salt_src=F.col("l_linenumber"), buckets=8
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "o_orderpriority",
        "o_orderstatus",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "q136_stratified_split",
    # Exact-fraction deterministic train/val/test assignment: within
    # each language stratum, docs are ranked by md5('split-v1-'||id)
    # (pseudo-random but engine-independent) and the 90/5/5 cut uses
    # integer cross-multiplication (rn*100 <= n*90) — no division, no
    # float boundary, bit-identical in DuckDB.
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN rn * 100 <= n * 90 THEN 'train'
                WHEN rn * 100 <= n * 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('split-v1-' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents) t
    """,
    doc=(
        "Deterministic stratified train/val/test split (90/5/5 per "
        "language): rank docs within each language by a keyed md5 of the "
        "id, cut at exact integer thresholds. Exact per-stratum "
        "fractions need the rank, i.e. one window shuffle per run; at "
        "100 TB, when approximate fractions suffice, drop the window "
        "and threshold the md5 bucket directly (the q134 mixing "
        "pattern) for a zero-shuffle projection - the rank variant is "
        "for splits whose counts must be exact (small eval sets)."
    ),
)
def q136_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    b = F.md5(F.concat(F.lit("split-v1-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(b, "doc_id")
    wn = Window.partitionBy("lang")
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wn)
    split = (
        F.when(rn * 100 <= n * 90, "train")
        .when(rn * 100 <= n * 95, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


@register(
    "q137_pq_ann_topk",
    # Full oracle: the PQ codebook is md5-seeded (similarity.
    # md5_pq_codebook), so DuckDB re-derives the identical IEEE
    # doubles, replays encode (lexicographic (dist, code) argmin),
    # the ADC lookup join, and the DECIMAL(30,6)-exact 8-term sum.
    oracle="""
    WITH cb AS (
      SELECT s, c,
             list_transform(range(0, 8), d ->
               ('0x' || substr(md5('pq-' || CAST(s AS VARCHAR) || '-'
                                   || CAST(c AS VARCHAR) || '-'
                                   || CAST(d AS VARCHAR)), 1, 15))::BIGINT
               / 576460752303423488.0 - 1.0) AS cvec
      FROM range(0, 8) ss(s), range(0, 16) cc(c)
    ),
    dists AS (
      SELECT e.vec_id, cb.s, cb.c,
             list_sum(list_transform(range(0, 8), d ->
               (CAST(e.embedding[cb.s * 8 + d + 1] AS DOUBLE) - cb.cvec[d + 1])
               * (CAST(e.embedding[cb.s * 8 + d + 1] AS DOUBLE) - cb.cvec[d + 1])))
               AS dist
      FROM embeddings e, cb
    ),
    codes AS (
      -- deterministic argmin, tie-break on code id (mirrors the Spark
      -- side's min_by over array(dist, c); arg_min can't take a
      -- composite ordering here)
      SELECT n_id, s, code FROM (
        SELECT vec_id AS n_id, s, c AS code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
        FROM dists) t
      WHERE rn = 1
    ),
    qdist AS (SELECT vec_id AS q_id, s, c, dist FROM dists WHERE vec_id < 8),
    adc AS (
      SELECT q.q_id, x.n_id,
             CAST(SUM(CAST(q.dist AS DECIMAL(30,6))) AS DOUBLE) AS adc
      FROM codes x JOIN qdist q ON q.s = x.s AND q.c = x.code
      WHERE x.n_id <> q.q_id
      GROUP BY q.q_id, x.n_id
    )
    SELECT q_id, n_id, adc, rn FROM (
      SELECT q_id, n_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
      FROM adc) t
    WHERE rn <= 5
    """,
    doc=(
        "Product-quantization ANN (8 subspaces x 16 md5-seeded codes): "
        "encode to 8 code ids per vector, answer queries by asymmetric "
        "distance (ADC) over a broadcast lookup table - the FAISS-style "
        "memory-bound scale path; codes are 32x smaller than vectors."
    ),
)
def q137_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


@register(
    "q138_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
               FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.q_id, c.vec_id AS n_id, c.label AS n_label,
             list_sum(list_transform(list_zip(q.q_vec, c.embedding),
                                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine
      FROM embeddings c, q WHERE c.label <> q.q_label)
    SELECT q_id, n_id, n_label, cosine, rn FROM (
      SELECT q_id, n_id, n_label, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
      FROM pairs) t
    WHERE rn <= 10
    """,
    doc=(
        "Hard-negative mining for contrastive training: per query, the "
        "10 most-similar vectors with a DIFFERENT label (broadcast "
        "queries x one corpus scan, label predicate folded into the "
        "join, WindowGroupLimit top-k)."
    ),
)
def q138_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(emb, emb.filter(F.col("vec_id") < 8), k=10)


@register(
    "q139_corpus_token_stats",
    # Zipf/Heaps-flavoured corpus statistics kept in integer/decimal
    # arithmetic on purpose: no ln()/log() (libm results are not
    # IEEE-pinned across engines), so every output is either exact or
    # a single double division of two exact integers.
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                               1, 10000)) AS tok
      FROM documents),
    freq AS (SELECT tok, COUNT(*) AS n FROM tok WHERE tok <> '' GROUP BY tok),
    stats AS (
      SELECT COUNT(*) AS vocab_size,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_count,
             CAST(MAX(n) AS BIGINT) AS max_freq
      FROM freq),
    top10 AS (
      SELECT CAST(SUM(n) AS BIGINT) AS top10_tokens
      FROM (SELECT n, tok FROM freq ORDER BY n DESC, tok LIMIT 10) t)
    SELECT vocab_size, total_tokens, hapax_count, dis_count, max_freq,
           top10_tokens / total_tokens AS top10_share,
           vocab_size / total_tokens AS type_token_ratio
    FROM stats, top10
    """,
    doc=(
        "Corpus-level token-frequency distribution: vocabulary size, "
        "hapax/dis legomena, max frequency, top-10-token mass share, "
        "type-token ratio. One token-count shuffle reused by a full "
        "aggregate + a TakeOrderedAndProject top-10; integer-exact "
        "except two final double divisions."
    ),
)
def q139_corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(D.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # freq feeds two consumers (full aggregate + top-10); cache it so
    # the corpus is tokenized once (repeated-scan audit rule, PLANS.md).
    freq = freq.cache()
    stats = freq.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("n").alias("total_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax_count"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).alias("dis_count"),
        F.max("n").alias("max_freq"),
    )
    top10 = (
        freq.orderBy(F.col("n").desc(), "tok")
        .limit(10)
        .agg(F.sum("n").alias("top10_tokens"))
    )
    return stats.crossJoin(F.broadcast(top10)).select(
        "vocab_size",
        "total_tokens",
        "hapax_count",
        "dis_count",
        "max_freq",
        (F.col("top10_tokens") / F.col("total_tokens")).alias("top10_share"),
        (F.col("vocab_size") / F.col("total_tokens")).alias("type_token_ratio"),
    )


@register(
    "q140_cdc_chunk_dedup",
    # Content-defined chunking for storage-level dedup: a token is a
    # chunk boundary when its md5-derived 60-bit hash ≡ 0 (mod 16)
    # (expected chunk length 16 tokens).  Because boundaries depend on
    # CONTENT, not position, shared runs between near-identical docs
    # land in identical chunks even after insertions shift positions —
    # the property fixed-size chunking lacks.  md5 on both sides →
    # DuckDB replays boundaries, chunk texts, and hashes exactly.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                        1, 10000) AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, u.s.pos AS pos, u.s.tok AS tok
      FROM (SELECT doc_id,
                   unnest(list_transform(toks, (x, i) -> {{'pos': i, 'tok': x}})) AS s
            FROM toks) u
      WHERE u.s.tok <> ''),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN ('0x' || substr(md5(tok), 1, 15))::BIGINT % 16 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM tok),
    numbered AS (
      SELECT doc_id, pos, tok,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS chunk_id
      FROM flagged),
    chunks AS (
      SELECT doc_id, chunk_id,
             string_agg(tok, ' ' ORDER BY pos) AS ctext,
             COUNT(*) AS n_tokens
      FROM numbered GROUP BY doc_id, chunk_id)
    SELECT md5(ctext) AS chunk_hash,
           CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM chunks
    GROUP BY md5(ctext)
    HAVING COUNT(*) >= 2
    """,
    doc=(
        "Content-defined chunking (token-hash boundaries, expected 16 "
        "tokens/chunk) + cross-corpus chunk dedup: repeated chunks with "
        "copy counts. Boundaries move with content, so shared runs "
        "between near-identical docs dedupe even after insertions; "
        "plan is posexplode -> per-doc running-sum window -> two hash "
        "aggregates, all partitioned by doc then chunk hash."
    ),
)
def q140_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.chunking import cdc_duplicate_chunks

    return cdc_duplicate_chunks(load_table(spark, sf_dir, "documents"), modulus=16)


@register(
    "q141_embedding_covariance",
    # The PCA/whitening precursor: upper-triangle covariance of the
    # 64-dim embedding matrix, over components QUANTIZED to 6 decimal
    # places (round half away from zero — identical in Spark, DuckDB
    # and NumPy).  Quantization buys exact-integer moment sums: every
    # Σx6, Σx6·y6 is a plain int64 (codegen-primitive — the earlier
    # DECIMAL(30,6) accumulators were BigDecimal-bound, 16 s vs ~2 s
    # at sf0.1), order-independent, and small enough (|x|<0.6 → sums
    # ≤ ~7e14 per 1e9 rows headroom) that even the final int→double
    # casts are EXACT, so the one double expression per cell is
    # bit-identical everywhere.
    oracle="""
    WITH comp AS (
      SELECT vec_id, i,
             CAST(CASE WHEN x >= 0 THEN floor(x * 1000000 + 0.5)
                       ELSE -floor(-x * 1000000 + 0.5) END AS BIGINT) AS x6
      FROM (SELECT vec_id, u.i AS i, CAST(embedding[u.i + 1] AS DOUBLE) AS x
            FROM embeddings, range(0, 64) u(i)) t
    ),
    moments AS (
      SELECT a.i AS i, b.i AS j,
             COUNT(*) AS n,
             CAST(SUM(a.x6) AS BIGINT) AS sx,
             CAST(SUM(b.x6) AS BIGINT) AS sy,
             CAST(SUM(a.x6 * b.x6) AS BIGINT) AS sxy
      FROM comp a JOIN comp b ON b.vec_id = a.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT i, j,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (1000000000000.0 * (n - 1)) AS cov
    FROM moments
    """,
    doc=(
        "Embedding covariance matrix (upper triangle, 2080 entries) - "
        "the PCA/whitening/ZCA precursor every embedding pipeline "
        "needs, over 6-dp-quantized components so the moment sums are "
        "exact int64s (order-independent, mergeable map-side, "
        "codegen-primitive). Plan: posexplode to (vec, dim, x6), "
        "co-partitioned self-join per vector (n x 64 small rows "
        "through the shuffle, never the 2080-wide pair explosion), "
        "partial-aggregated cells into the final tiny exchange."
    ),
)
def q141_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("x")
    x6 = (
        F.when(x >= 0, F.floor(x * 1000000 + 0.5))
        .otherwise(-F.floor(-x * 1000000 + 0.5))
        .cast("long")
    )
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    ).select("vec_id", "i", x6.alias("x6"))
    a = comp.select(F.col("vec_id"), F.col("i").alias("i"), F.col("x6").alias("xa"))
    b = comp.select(F.col("vec_id"), F.col("i").alias("j"), F.col("x6").alias("xb"))
    pairs = a.join(b, "vec_id").filter(F.col("i") <= F.col("j"))
    moments = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
    )
    return moments.select(
        "i",
        "j",
        (
            (F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n"))
            / (F.lit(1000000000000.0) * (F.col("n") - 1))
        ).alias("cov"),
    )


@register(
    "q142_groupwise_regression",
    # Group-wise least-squares trend without regr_slope/regr_intercept:
    # those sum doubles in partition order (non-deterministic last
    # ulp).  Exactness scheme, forced by two engine quirks found while
    # building this: (a) double→decimal of LARGE values diverges
    # (Spark shortest-repr BigDecimal vs DuckDB exact-binary, beyond
    # ~17 significant digits), so x is an integer decimal (seconds
    # since a fixed 2020-09 base) and y converts at small magnitude;
    # (b) DuckDB's decimal→double cast DOUBLE-ROUNDS for scale>0 when
    # the scaled integer exceeds 2^53 (int128→double, then /10^scale)
    # where Java's BigDecimal.doubleValue rounds once — a last-ulp
    # difference that catastrophic cancellation in n·Σxy − Σx·Σy
    # amplifies into the 12th digit.  So the cancellation happens IN
    # DECIMAL (exact), the numerator is rescaled to an INTEGER decimal,
    # and only then does the division go to double.  Explicit CASTs
    # keep every intermediate inside both engines' 38-digit width.
    # r12 fuzz finding: DuckDB's SCALE-0 int128→double is ALSO not
    # correctly rounded past 2^53 (upper·2⁶⁴ + lower in double — two
    # roundings; hit by fuzz seed 99, one group one ulp off while
    # Spark matched exact-integer ground truth), so numer_i/denom_i
    # are rendered through VARCHAR (strtod rounds once) — the same
    # convention as the q4/q5 stress fix, now applied at scale 0.
    # sx/sy take the same render: below 2^53 the two forms are
    # bit-identical (gate values unchanged), and the VARCHAR form
    # keeps the intercept exact when a larger corpus pushes SUM(x)
    # (~2e14 at the 100x tier, 45x of headroom) past the boundary.
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 1000000 - 1600000000 AS DECIMAL(10,0)) AS x,
             CAST(value AS DECIMAL(14,6)) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(x) AS DECIMAL(19,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(19,6)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(24,6)) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(28,0)) AS sxx
      FROM pts GROUP BY event_type
    ),
    d AS (
      SELECT event_type, n, sx, sy,
             CAST(CAST(CAST(n AS DECIMAL(8,0)) * sxy - sx * sy AS DECIMAL(31,6))
                  * 1000000 AS DECIMAL(38,0)) AS numer_i,
             CAST(CAST(n AS DECIMAL(8,0)) * sxx - sx * sx AS DECIMAL(38,0)) AS denom_i
      FROM m
    )
    SELECT event_type, n,
           CAST(CAST(numer_i AS VARCHAR) AS DOUBLE)
             / CAST(CAST(denom_i AS VARCHAR) AS DOUBLE) / 1000000.0 AS slope,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
            - CAST(CAST(numer_i AS VARCHAR) AS DOUBLE)
              / CAST(CAST(denom_i AS VARCHAR) AS DOUBLE) / 1000000.0
              * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / n AS intercept
    FROM d
    """,
    doc=(
        "Per-group least-squares trend (value vs event time): the "
        "regression-aggregate surface (regr_slope/regr_intercept "
        "shapes) rebuilt on decimal-exact moment sums because the "
        "built-ins accumulate doubles in partition order. One "
        "partial-aggregated shuffle; 5 output rows."
    ),
)
def q142_groupwise_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr("cast(unix_micros(ts) div 1000000 - 1600000000 as decimal(10,0))").alias("x"),
        F.col("value").cast("decimal(14,6)").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x")).cast("decimal(19,0)").alias("sx"),
        F.sum(F.col("y")).cast("decimal(19,6)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(24,6)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(28,0)").alias("sxx"),
    )
    n8 = F.col("n").cast("decimal(8,0)")
    numer_i = (
        (n8 * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(31,6)")
        * F.lit(1000000)
    ).cast("decimal(38,0)")
    denom_i = (n8 * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    slope = numer_i.cast("double") / denom_i.cast("double") / F.lit(1000000.0)
    return m.select(
        "event_type",
        "n",
        slope.alias("slope"),
        ((F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n")
         ).alias("intercept"),
    )


@register(
    "q143_gaps_islands_sessions",
    # The gaps-and-islands formulation of sessionization: a session
    # break is a > 30-minute gap since the user's previous event, and
    # the session id is the running count of breaks — the classic SQL
    # pattern that q52's built-in session_window compiles away.  Both
    # engines window on (user_id ORDER BY ts, event_id) — a total
    # order, so lag() and the running sum are deterministic.  Epoch
    # micros compare exactly; session bounds emitted as epoch micros
    # (NTZ-safe, the q125 rule).
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
    ),
    flagged AS (
      SELECT user_id, tsu, event_id,
             CASE WHEN tsu - lag(tsu) OVER w > 1800000000 OR
                       lag(tsu) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
    ),
    numbered AS (
      SELECT user_id, tsu, event_id,
             -- CAST: DuckDB's window SUM(int) is HUGEINT (pandas-lossy)
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(tsu) AS session_start_us,
           MAX(tsu) AS session_end_us,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
    doc=(
        "Sessionization via gaps-and-islands (30-min inactivity): "
        "lag() flags session breaks, a running sum numbers sessions, "
        "one aggregate emits per-session bounds/counts - the classic "
        "SQL pattern whose built-in twin is q52's session_window. One "
        "keyed window per user (parallel across users), one aggregate; "
        "at 100 TB identical shape, partitioned by user."
    ),
)
def q143_gaps_islands_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("tsu"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    prev = F.lag("tsu").over(w)
    brk = F.when(prev.isNull() | (F.col("tsu") - prev > 1800000000), 1).otherwise(0)
    flagged = ev.withColumn("brk", brk)
    wsum = Window.partitionBy("user_id").orderBy("tsu", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    numbered = flagged.withColumn("session_id", F.sum("brk").over(wsum))
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("tsu").alias("session_start_us"),
        F.max("tsu").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q144_incremental_dedup",
    # The production incremental-crawl pattern: a NEW batch is deduped
    # against the already-kept corpus WITHOUT re-deduping the corpus —
    # digest anti-join against the existing keys plus a within-batch
    # keeper pick.  Here the batch split is deterministic (doc_id % 5):
    # ids divisible by 5 play the incoming snapshot, the rest the
    # kept corpus.  Every incoming doc gets a status:
    # 'dup_of_existing' (digest already in the corpus),
    # 'dup_in_batch' (first-seen wins inside the batch), or 'new'.
    # Digest = md5 of the normal form, with q31's multilingual-safety
    # fallback (empty normal form → per-doc key, never collapsed).
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             COALESCE(nullif({_NORM_SQL.format(c='text')}, ''),
                      '#' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    existing AS (SELECT DISTINCT md5(k) AS d FROM keyed WHERE doc_id % 5 <> 0),
    incoming AS (SELECT doc_id, md5(k) AS d FROM keyed WHERE doc_id % 5 = 0),
    ranked AS (
      SELECT i.doc_id, i.d,
             EXISTS (SELECT 1 FROM existing e WHERE e.d = i.d) AS in_corpus,
             row_number() OVER (PARTITION BY i.d ORDER BY i.doc_id) AS rn
      FROM incoming i
    )
    SELECT doc_id,
           CASE WHEN in_corpus THEN 'dup_of_existing'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM ranked
    """,
    doc=(
        "Incremental dedup: a new batch (doc_id % 5 = 0) deduped "
        "against the kept corpus via a digest LEFT SEMI probe plus a "
        "within-batch min-id keeper - the pattern that avoids "
        "re-deduping the whole corpus per crawl snapshot. Only "
        "digests move: the corpus side collapses to distinct md5 keys "
        "before the join, and at 100 TB that digest set is the "
        "persisted dedup index a new snapshot probes (bucketed by "
        "digest, the probe is co-located and the corpus is never "
        "re-read)."
    ),
)
def q144_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = D.normalize_text(F.col("text"))
    key = F.coalesce(
        F.nullif(norm, F.lit("")), F.concat(F.lit("#"), F.col("doc_id").cast("string"))
    )
    keyed = docs.select("doc_id", F.md5(key).alias("d"))
    existing = keyed.filter(F.col("doc_id") % 5 != 0).select("d").distinct()
    incoming = keyed.filter(F.col("doc_id") % 5 == 0)
    flagged = incoming.join(
        existing.withColumn("_hit", F.lit(1)), "d", "left"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("d").orderBy("doc_id")
    return flagged.select(
        "doc_id",
        F.when(F.col("_hit").isNotNull(), "dup_of_existing")
        .when(F.row_number().over(w) > 1, "dup_in_batch")
        .otherwise("new")
        .alias("status"),
    )


@register(
    "q145_bpe_merge_rounds",
    # Oracle built programmatically: 3 unrolled merge rounds, each a
    # pairs→argmax→relational-merge CTE chain (operators/bpe.py has
    # the fold↔runs/parity equivalence argument).
    oracle=B.bpe_oracle_sql(_NORM_SQL.format(c="text"), rounds=3),
    doc=(
        "BPE tokenizer training, first 3 merge rounds, as one lazy "
        "relational program (operators/bpe.py): corpus tokenized once "
        "into a cached (word, freq) vocabulary — the only corpus-"
        "sized shuffle — then per round a vocabulary-sized adjacent-"
        "pair count (map-side partial agg), a TakeOrderedAndProject "
        "argmax whose 1-row winner is broadcast back via crossJoin "
        "(no driver collect between rounds), and a greedy leftmost "
        "non-overlapping merge as an F.aggregate fold (Catalyst "
        "higher-order function, no UDF). Winner order (cnt DESC, l, "
        "r) is total, counts integer-exact, so DuckDB replays all "
        "three rounds bit-for-bit. At 100 TB the vocabulary (tens of "
        "millions of words) stays distributed; rounds never touch "
        "the corpus again — the standard word-freq BPE factorization."
    ),
)
def q145_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return B.bpe_train_rounds(docs, rounds=3)


@register(
    "q151_hll_sketch_index",
    # Sketch BYTES are Datasketches-internal, but the mergeable-index
    # CONTRACT is checkable: per-source estimates and the union-of-
    # sketches estimate must sit within HLL's published error bound of
    # the exact distinct counts the oracle recomputes (q55 pattern).
    oracle="""
    WITH k AS (SELECT source, md5(text) AS k FROM documents),
    per AS (
      SELECT source, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct,
             TRUE AS est_ok
      FROM k GROUP BY source)
    SELECT source, exact_distinct, est_ok FROM per
    UNION ALL
    SELECT 'ALL' AS source, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct,
           TRUE AS est_ok
    FROM k
    """,
    doc=(
        "Mergeable cardinality index (Datasketches HLL, "
        "hll_sketch_agg / hll_union_agg): one sketch per source - the "
        "fixed-size binary you persist per partition/day at 100 TB - "
        "then the GLOBAL distinct estimate comes from unioning "
        "sketches, never rescanning the corpus. Emits exact distincts "
        "plus within-bound booleans for every per-source estimate AND "
        "the union estimate, so the oracle hash-checks the mergeable "
        "contract itself (q55 self-check pattern)."
    ),
)
def q151_hll_sketch_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("source", F.md5("text").alias("k"))
    sk = d.groupBy("source").agg(
        F.hll_sketch_agg("k").alias("sk"),
        F.countDistinct("k").alias("exact_distinct"),
    )
    # sk feeds the per-source rows AND the union row; sources-sized.
    sk = sk.cache()

    def within(est, exact, rel=0.15):
        return (F.abs(est - exact) <= rel * exact).alias("est_ok")

    per = sk.select(
        "source",
        "exact_distinct",
        within(F.hll_sketch_estimate("sk"), F.col("exact_distinct")),
    )
    glob_exact = F.broadcast(d.agg(F.countDistinct("k").alias("exact_distinct")))
    glob = (
        sk.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"))
        .crossJoin(glob_exact)
        .select(
            F.lit("ALL").alias("source"),
            "exact_distinct",
            within(F.col("_est"), F.col("exact_distinct")),
        )
    )
    return per.unionByName(glob)


@register(
    "q154_theta_overlap_matrix",
    # Theta sketch BYTES are Datasketches-internal, but estimates are
    # deterministic (fixed default seed, no RNG) and the set-algebra
    # CONTRACT is checkable: per-pair intersection/union estimates
    # must sit within bound of the exact overlap the oracle recomputes
    # (q55/q151 pattern; below ~4k distinct the sketch is in exact
    # mode and the estimate IS the true count).
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT source, t AS tok FROM (
        SELECT source,
               unnest(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '), 1, 10000)) AS t
        FROM documents) u
      WHERE t <> ''),
    cnt AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
    com AS (
      SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM tok a JOIN tok b ON b.tok = a.tok AND a.source < b.source
      GROUP BY 1, 2)
    SELECT ca.source AS src_a, cb.source AS src_b,
           COALESCE(c.n_common, 0) AS n_common,
           ca.n + cb.n - COALESCE(c.n_common, 0) AS n_union,
           TRUE AS inter_ok, TRUE AS union_ok
    FROM cnt ca JOIN cnt cb ON ca.source < cb.source
    LEFT JOIN com c ON c.src_a = ca.source AND c.src_b = cb.source
    """,
    doc=(
        "Pairwise source-vocabulary overlap via theta sketches "
        "(Datasketches set algebra: theta_sketch_agg per source, then "
        "SCALAR theta_intersection / theta_union on the 20-row sketch "
        "table) - at 100 TB the per-source sketches are the persisted "
        "index and ALL C(n,2) pair overlaps cost sketch-sized work, "
        "never re-scanning tokens; the exact twin (the q124-style "
        "token inverted-index self-join) runs once here to gate the "
        "estimates: emits exact common/union counts plus within-bound "
        "booleans the oracle asserts literally TRUE."
    ),
)
def q154_theta_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(D.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    tok = tok.cache()  # feeds exact counts, exact pairs, and sketches
    cnt = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("source").alias("src_a"), "tok")
    b = tok.select(F.col("source").alias("src_b"), "tok")
    com = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sk = tok.groupBy("source").agg(F.theta_sketch_agg("tok").alias("sk"))
    ska = sk.select(F.col("source").alias("src_a"), F.col("sk").alias("_ska"))
    skb = sk.select(F.col("source").alias("src_b"), F.col("sk").alias("_skb"))
    ca = cnt.select(F.col("source").alias("src_a"), F.col("n").alias("_na"))
    cb = cnt.select(F.col("source").alias("src_b"), F.col("n").alias("_nb"))
    base = (
        ca.join(cb, F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ska), "src_a")
        .join(F.broadcast(skb), "src_b")
        .join(com, ["src_a", "src_b"], "left")
        .na.fill({"n_common": 0})
    )
    est_i = F.theta_sketch_estimate(F.theta_intersection("_ska", "_skb"))
    est_u = F.theta_sketch_estimate(F.theta_union("_ska", "_skb"))
    n_union = F.col("_na") + F.col("_nb") - F.col("n_common")

    def within(est, exact):
        return F.abs(est - exact) <= 0.15 * exact + 2

    return base.select(
        "src_a",
        "src_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        n_union.alias("n_union"),
        within(est_i, F.col("n_common")).alias("inter_ok"),
        within(est_u, n_union).alias("union_ok"),
    )


@register(
    "q155_kll_quantile_index",
    # KLL sketch internals are Spark-side, but the mergeable-quantile
    # CONTRACT is rank-checkable: the p50/p99 read off the MERGED
    # per-source sketches must sit inside a +/-2.5pp rank window that
    # the oracle re-verifies from exact comparison counts (q55
    # pattern, KLL rank guarantee at k=200 is ~1.65% at 99% conf).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           TRUE AS p50_ok, TRUE AS p99_ok
    FROM documents
    """,
    doc=(
        "Mergeable quantile index (Datasketches KLL): one doc-length "
        "sketch per source - the per-partition summary you persist at "
        "100 TB - then GLOBAL p50/p99 come from kll_sketch_merge over "
        "the 20 sketches, never a global sort or rescan. The "
        "estimates are verified in-plan by exact rank counting "
        "(broadcast the two estimates back over one column-pruned "
        "scan), emitting within-rank-window booleans the oracle "
        "asserts TRUE. Completes the sketch-index suite: KLL "
        "quantiles + HLL approx-distinct (q151) + exact bitmap "
        "(q153) + theta set algebra (q154)."
    ),
)
def q155_kll_quantile_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", F.col("n_chars").cast("bigint").alias("x"))
    per = base.groupBy("source").agg(F.kll_sketch_agg_bigint("x").alias("sk"))
    # kll_sketch_merge_bigint is a BINARY scalar; fold the (tiny,
    # n_sources-element) sketch array with a higher-order aggregate —
    # the same pairwise merge a treeified 100 TB rollup would run.
    merged = per.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.collect_list("sk").alias("_sks"),
    ).select(
        "n_sources",
        F.expr(
            "aggregate(slice(_sks, 2, size(_sks) - 1), _sks[0],"
            " (acc, x) -> kll_sketch_merge_bigint(acc, x))"
        ).alias("mk"),
    ).select(
        "n_sources",
        F.kll_sketch_get_quantile_bigint(F.col("mk"), F.lit(0.5)).alias("_q50"),
        F.kll_sketch_get_quantile_bigint(F.col("mk"), F.lit(0.99)).alias("_q99"),
    )
    j = base.crossJoin(F.broadcast(merged))
    agg = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_sources").alias("n_sources"),
        F.sum(F.when(F.col("x") < F.col("_q50"), 1).otherwise(0)).alias("_lt50"),
        F.sum(F.when(F.col("x") <= F.col("_q50"), 1).otherwise(0)).alias("_le50"),
        F.sum(F.when(F.col("x") < F.col("_q99"), 1).otherwise(0)).alias("_lt99"),
        F.sum(F.when(F.col("x") <= F.col("_q99"), 1).otherwise(0)).alias("_le99"),
    )
    n = F.col("n_docs")

    def rank_ok(lt, le, target, slack=0.025):
        return (F.col(lt) <= (target + slack) * n) & (F.col(le) >= (target - slack) * n)

    return agg.select(
        "n_docs",
        "n_sources",
        rank_ok("_lt50", "_le50", 0.5).alias("p50_ok"),
        rank_ok("_lt99", "_le99", 0.99).alias("p99_ok"),
    )


@register(
    "q162_cms_heavy_hitters",
    # The count-min sketch here is md5-derived end-to-end (bucket_i =
    # 60-bit md5 int mod width), so the oracle replays the ENTIRE
    # sketch — build, point query, overcount — bit-identically; no
    # within-bound booleans needed (q33 full-replay pattern, not the
    # q151 contract pattern).
    oracle=f"""
    WITH tok AS (
      SELECT t AS tok FROM (
        SELECT unnest(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                 1, 10000)) AS t
        FROM documents) u
      WHERE t <> ''),
    cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY tok),
    n AS (SELECT SUM(exact_cnt) AS n_total FROM cnt),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
      SELECT r,
             ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 15))::BIGINT
               % 512 AS bucket,
             SUM(exact_cnt) AS cell
      FROM cnt CROSS JOIN rows_
      GROUP BY 1, 2),
    cand AS (SELECT tok, exact_cnt FROM cnt, n WHERE 200 * exact_cnt >= n_total),
    est AS (
      SELECT c.tok, c.exact_cnt, CAST(MIN(ce.cell) AS BIGINT) AS cms_est
      FROM cand c
      CROSS JOIN rows_ rr
      JOIN cells ce ON ce.r = rr.r
        AND ce.bucket = ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '|' || c.tok),
                                        1, 15))::BIGINT % 512
      GROUP BY 1, 2)
    SELECT tok, exact_cnt, cms_est, cms_est - exact_cnt AS overcount FROM est
    """,
    doc=(
        "Count-min sketch heavy hitters: a depth-4 x width-512 CMS "
        "over the corpus token stream, built FROM the per-token "
        "partial aggregate (CMS is additive, so cell(i, h_i(tok)) += "
        "cnt gives the same counters as streaming one token at a "
        "time) - the only corpus-sized work is the one token-count "
        "shuffle; the sketch itself is 2048 cells regardless of "
        "scale, the fixed-size summary you'd persist per "
        "partition/day at 100 TB and OR-merge like q151/q153-q155. "
        "Candidates (exact mass >= 0.5% of N, integer cross-multiplied "
        "compare) probe the broadcast cell table; cms_est = min over "
        "the 4 rows, and overcount = est - exact exposes the CMS "
        "one-sided error (always >= 0). Hashes are md5-derived 60-bit "
        "ints mod width, bit-identical in DuckDB."
    ),
)
def q162_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators import cms

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(D.tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cnt = cnt.cache()  # feeds total mass + cells + candidates
    n_total = F.broadcast(cnt.agg(F.sum("exact_cnt").alias("n_total")))
    cells = cms.cms_cells_from_counts(cnt)
    cand = (
        cnt.crossJoin(n_total)
        .filter(F.lit(200) * F.col("exact_cnt") >= F.col("n_total"))
        .select("tok", "exact_cnt")
    )
    return cms.cms_point_query(cand, cells).select(
        "tok", "exact_cnt", "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


@register(
    "q163_sorted_neighborhood_pairs",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, {_NORM_SQL.format(c='text')} AS ntext,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '), 1, 10000) AS toks
      FROM documents),
    r AS (
      SELECT doc_id, ntext, toks, substr(ntext, 1, 8) AS blk,
             row_number() OVER (PARTITION BY substr(ntext, 1, 8)
                                ORDER BY ntext, doc_id) AS rn
      FROM n)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(b.rn - a.rn AS INTEGER) AS gap,
           CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
                THEN CAST(len(list_intersect(list_distinct(a.toks), list_distinct(b.toks))) AS DOUBLE)
                     / len(list_distinct(list_concat(a.toks, b.toks)))
                ELSE 0.0 END AS jaccard
    FROM r a JOIN r b ON b.blk = a.blk AND b.rn - a.rn BETWEEN 1 AND 3
    """,
    doc=(
        "Sorted-neighborhood entity-resolution blocking (Hernandez-"
        "Stolfo merge/purge): docs sort by normalized text WITHIN an "
        "8-char-prefix block, and only pairs within a sliding window "
        "of 3 sorted neighbors are compared - candidate count is "
        "O(n*w) instead of the O(n^2) all-pairs compare, the third "
        "blocking strategy beside LSH banding (q33/q34) and sign-LSH "
        "buckets (q97). The window runs PARTITIONED by block (no "
        "global sort - the multi-pass block-wise SNM variant that "
        "scales; the classic single-sort SNM is its w=infinity block "
        "limit), then each neighbor pair gets an exact token-set "
        "Jaccard. row_number ties broken by (ntext, doc_id) - total "
        "order, so both engines emit identical pairs."
    ),
)
def q163_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    nt = D.normalize_text(F.col("text"))
    # tokenize ONCE per doc here — each doc lands in up to 2w neighbor
    # pairs, so computing jaccard from raw text would re-run the regex
    # normalization + split per pair (6x at w=3)
    base = docs.select(
        "doc_id", nt.alias("ntext"), F.substring(nt, 1, 8).alias("blk"),
        F.array_distinct(D.tokens(F.col("text"))).alias("toks"),
    )
    w = Window.partitionBy("blk").orderBy("ntext", "doc_id")
    r = base.select("doc_id", "ntext", "blk", "toks", F.row_number().over(w).alias("rn"))
    a = r.select(
        F.col("blk"), F.col("rn").alias("rn_a"),
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"),
    )
    b = r.select(
        F.col("blk"), F.col("rn").alias("rn_b"),
        F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = F.size(F.array_union("toks_a", "toks_b")).cast("double")
    return (
        a.join(b, "blk")
        .filter((F.col("rn_b") - F.col("rn_a")).between(1, 3))
        .select(
            "id_a", "id_b",
            (F.col("rn_b") - F.col("rn_a")).cast("int").alias("gap"),
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


@register(
    "q167_grid_spatial_join",
    # Oracle is the brute-force distance join (quadratic spec); the
    # Spark plan is the grid-bucketed rewrite — same q161 pattern of
    # checking an O(n) plan against the O(n^2) definition.  All
    # coordinates and distances are int64 (md5-derived positions on a
    # 10^6 x 10^6 lattice), so there is no float anywhere.
    oracle="""
    WITH pts AS (
      SELECT c_custkey,
             ('0x' || substr(md5('lat|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS x,
             ('0x' || substr(md5('lon|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS y
      FROM customer),
    qp AS (
      SELECT n_nationkey AS qid,
             ('0x' || substr(md5('qlat|' || CAST(n_nationkey AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS qx,
             ('0x' || substr(md5('qlon|' || CAST(n_nationkey AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS qy
      FROM nation),
    hits AS (
      SELECT qp.qid, pts.c_custkey,
             (pts.x - qp.qx) * (pts.x - qp.qx)
               + (pts.y - qp.qy) * (pts.y - qp.qy) AS d2
      FROM qp JOIN pts
        ON (pts.x - qp.qx) * (pts.x - qp.qx)
             + (pts.y - qp.qy) * (pts.y - qp.qy) <= 10000000000),
    agg AS (
      SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_within,
             CAST(MIN(d2) AS BIGINT) AS min_d2
      FROM hits GROUP BY qid),
    nearest AS (
      SELECT qid, c_custkey FROM (
        SELECT qid, c_custkey,
               row_number() OVER (PARTITION BY qid ORDER BY d2, c_custkey) AS rn
        FROM hits) t WHERE rn = 1)
    SELECT a.qid, a.n_within, a.min_d2, CAST(n.c_custkey AS BIGINT) AS nearest_cust
    FROM agg a JOIN nearest n USING (qid)
    """,
    doc=(
        "Radius spatial join via grid bucketing: customers land on "
        "deterministic md5-derived lattice positions, each query "
        "point (one per nation) finds every customer within radius "
        "r = 100k. Spark buckets points into r-sized grid cells and "
        "probes only the 3x3 neighborhood of each query's cell - the "
        "standard spatial-join decomposition (cell size = radius "
        "guarantees the neighborhood covers the disc), so matching "
        "cost is density-proportional instead of |queries| x |points|; "
        "at 100 TB the cell id becomes the partition key and "
        "neighbor-cell probes prune to 9 partitions. The oracle runs "
        "the quadratic brute-force spec. Distances are int64 "
        "squared-lattice - no floats, no epsilon, and the nearest tie "
        "order (d2, custkey) is total."
    ),
)
def q167_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.dedup import _md5_h60

    R = 100_000
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def coord(tag, key):
        return _md5_h60(F.md5(F.concat(F.lit(tag), key.cast("string")))) % 1_000_000

    pts = cust.select(
        "c_custkey",
        coord("lat|", F.col("c_custkey")).alias("x"),
        coord("lon|", F.col("c_custkey")).alias("y"),
    ).select(
        "c_custkey", "x", "y",
        F.floor(F.col("x") / R).alias("cx"),
        F.floor(F.col("y") / R).alias("cy"),
    )
    qp = nation.select(
        F.col("n_nationkey").alias("qid"),
        coord("qlat|", F.col("n_nationkey")).alias("qx"),
        coord("qlon|", F.col("n_nationkey")).alias("qy"),
    )
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    qp9 = (
        qp.select("qid", "qx", "qy", d.alias("dx"))
        .select("qid", "qx", "qy", "dx", d.alias("dy"))
        .select(
            "qid", "qx", "qy",
            (F.floor(F.col("qx") / R) + F.col("dx")).alias("cx"),
            (F.floor(F.col("qy") / R) + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    hits = (
        pts.join(F.broadcast(qp9), ["cx", "cy"])
        .select("qid", "c_custkey", d2.alias("d2"))
        .filter(F.col("d2") <= R * R)
    )
    return hits.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min("d2").cast("bigint").alias("min_d2"),
        F.min_by("c_custkey", F.struct(F.col("d2"), F.col("c_custkey")))
        .cast("bigint")
        .alias("nearest_cust"),
    )


@register(
    "q174_classifier_eval",
    oracle="""
    WITH s AS (
      SELECT label % 2 AS act,
             CASE WHEN list_sum(list_transform(range(0, len(embedding)),
                    j -> CAST(embedding[j + 1] AS DOUBLE)
                         * (('0x' || substr(md5('w|' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                            % 17 - 8))) > 0
                  THEN 1 ELSE 0 END AS pred
      FROM embeddings),
    c AS (
      SELECT
        CAST(SUM(CASE WHEN pred = 1 AND act = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN pred = 1 AND act = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN pred = 0 AND act = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN pred = 0 AND act = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM s)
    SELECT tp, fp, fn, tn,
           {a} AS precision,
           {b} AS recall,
           {c} AS f1,
           {d} AS accuracy
    FROM c
    """.format(a=_R9('tp', 'tp + fp'), b=_R9('tp', 'tp + fn'),
               c=_R9('2 * tp', '2 * tp + fp + fn'),
               d=_R9('tp + tn', 'tp + fp + fn + tn')),
    doc=(
        "In-engine model evaluation: a deterministic linear probe "
        "(md5-seeded integer weights, the q102 hash-weight idea on "
        "dense embeddings) scores every vector with a per-element "
        "indexed transform + ordered fold - no UDF, no collect - and "
        "the confusion matrix plus precision/recall/F1/accuracy "
        "collapse in ONE flat conditional aggregate (map-side "
        "combined, zero joins). Per-row scoring is embarrassingly "
        "parallel and the metric rollup is 4 mergeable counters - the "
        "eval loop of a 100 TB inference sweep is exactly this shape. "
        "F1 uses the 2tp/(2tp+fp+fn) form to stay a single rounded "
        "double op."
    ),
)
def q174_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.dedup import _md5_h60

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")

    def w(j):
        return (
            _md5_h60(F.md5(F.concat(F.lit("w|"), j.cast("string")))) % 17 - 8
        ).cast("double")

    score = F.aggregate(
        F.transform(e, lambda x, j: x * w(j)), F.lit(0.0), lambda a, x: a + x
    )
    s = emb.select(
        (F.col("label") % 2).alias("act"),
        F.when(score > 0, 1).otherwise(0).alias("pred"),
    )
    c = s.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("act") == 1), 1).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("act") == 0), 1).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("act") == 1), 1).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("act") == 0), 1).otherwise(0))
        .cast("bigint").alias("tn"),
    )
    # exact rational rounding (r16, the q88/q183 class)
    return c.select(
        "tp", "fp", "fn", "tn",
        round9_exact("tp", "tp + fp").alias("precision"),
        round9_exact("tp", "tp + fn").alias("recall"),
        round9_exact("2 * tp", "2 * tp + fp + fn").alias("f1"),
        round9_exact("tp + tn", "tp + fp + fn + tn").alias("accuracy"),
    )


@register(
    "q175_quantile_normalize",
    oracle="""
    WITH x AS (
      SELECT vec_id, t.j AS j, CAST(embedding[t.j + 1] AS DOUBLE) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(j)),
    r AS (
      SELECT vec_id, j,
             row_number() OVER (PARTITION BY j ORDER BY x, vec_id) - 1 AS k,
             COUNT(*) OVER (PARTITION BY j) - 1 AS n1
      FROM x)
    SELECT vec_id,
           array_to_string(
             list((2 * k * 1000000000 + n1) // (2 * n1) ORDER BY j), ',') AS qvec
    FROM r GROUP BY vec_id
    """,
    doc=(
        "Rank-based quantile normalization per embedding dimension "
        "(the feature-preprocessing step that makes dimensions "
        "comparable before clustering/whitening): posexplode to "
        "(vec, dim, value), a rank window PARTITIONED BY DIMENSION - "
        "so the 'global sort' each dimension needs runs as d "
        "independent partition-local sorts that scale out across "
        "executors - then quantile q = (rank-1)/(n-1) and an ordered "
        "array_sort(collect) rebuild (collect_list alone is partition-"
        "order nondeterministic; sorting by the dim index makes the "
        "rebuilt vector exact). Ranks tie-break by vec_id - total "
        "order. The quantile q=(rank-1)/(n-1) is serialized as an "
        "integer at 1e-9 resolution via exact integer round-half-up "
        "(2k*1e9+n1) DIV (2*n1) - no double division anywhere, so "
        "both engines emit the identical comma-joined string (raw "
        "array<double> output crashes the external pandas "
        "canonicalizer: unhashable list - r05 lesson)."
    ),
)
def q175_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("j", "x"),
    )
    wr = Window.partitionBy("j").orderBy("x", "vec_id")
    wn = Window.partitionBy("j")
    r = x.select(
        "vec_id", "j",
        (F.row_number().over(wr) - 1).cast("bigint").alias("k"),
        (F.count(F.lit(1)).over(wn) - 1).cast("bigint").alias("n1"),
    ).select(
        "vec_id", "j",
        # exact integer round-half-up of k/n1 at 1e-9 resolution:
        # (2*k*1e9 + n1) DIV (2*n1) — identical in DuckDB with `//`.
        F.expr("(2 * k * 1000000000 + n1) DIV (2 * n1)").alias("q"),
    )
    return r.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "q"))),
                lambda s: s["q"].cast("string"),
            ),
            ",",
        ).alias("qvec")
    )


@register(
    "q192_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                                 1, 10000)) AS t
        FROM documents) u
      WHERE t <> ''),
    post AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) % {D.DIGEST_P1}) AS BIGINT) AS posting_digest,
             CAST(SUM(CAST(('0x' || substr(md5('{D.DIGEST_LANE2_KEY}' || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) % {D.DIGEST_P2}) AS BIGINT) AS posting_digest2,
             CAST(MIN(doc_id) AS BIGINT) AS min_doc,
             CAST(MAX(doc_id) AS BIGINT) AS max_doc
      FROM tok GROUP BY tok)
    SELECT tok, n_docs, posting_digest, posting_digest2, min_doc, max_doc
    FROM post WHERE n_docs >= 20
    """,
    doc=(
        "Inverted-index build (the search/retrieval core): distinct "
        "(token, doc) postings -> one groupBy token producing document "
        "frequency + an ADDITIVE posting digest: SUM of per-doc 60-bit "
        "md5 hashes reduced mod 2^31-1 (r09; replaces the sorted "
        "collect_list digest, which held a stopword's ENTIRE posting "
        "list as one group's aggregation state - the one remaining "
        "skew hazard in the family), plus a SECOND independent lane "
        "(md5('w2|'||doc) mod 2147483629, r10 - the same two-prime "
        "scheme wl_refine uses): one 31-bit lane expects birthday "
        "collisions at ~V^2/2^32 for large vocabularies; two "
        "independent lanes push that to ~V^2/2^62. The additive form is order- and "
        "partition-independent, MERGEABLE (partial sums combine "
        "map-side, and per-segment index digests at 100 TB merge by "
        "addition the same way the HLL/CMS sketches do), and exact "
        "int64 up to 2^63/2^31 = ~4.3e9 docs PER TOKEN; a stopword "
        "in a >4e9-doc corpus crosses that, so segment-level digests "
        "re-reduce mod p at each merge (mod-addition is associative, "
        "every partial stays < 2^31) - the flat SUM here is the "
        "bounded-count special case. df >= 20 bounds the emitted "
        "dictionary to the useful head. At 100 TB this is the textbook build: the posting "
        "shuffle partitions by token and every aggregate is a "
        "map-side-combined scalar - no per-group list state anywhere."
    ),
)
def q192_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_s3_read_write_spark.operators.dedup import _md5_h60

    # postings explode off the shared cached token table (doc_tokens)
    tok = (
        doc_tokens(spark, sf_dir)
        .select("doc_id", F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    h = _md5_h60(F.md5(F.col("doc_id").cast("string"))) % F.lit(D.DIGEST_P1)
    h2 = _md5_h60(
        F.md5(F.concat(F.lit(D.DIGEST_LANE2_KEY), F.col("doc_id").cast("string")))
    ) % F.lit(D.DIGEST_P2)
    return (
        tok.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(h).alias("posting_digest"),
            F.sum(h2).alias("posting_digest2"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 20)
    )


@register(
    "q195_prefix_filter_ssjoin",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                        1, 10000) AS w
      FROM documents),
    tok AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS tok
      FROM w, unnest(range(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 3),
    freq AS (SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    ranked AS (
      SELECT t.doc_id, t.tok, s.n,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY fq.f, t.tok) AS rn
      FROM tok t JOIN freq fq ON fq.tok = t.tok JOIN sz s ON s.doc_id = t.doc_id),
    pref AS (
      SELECT doc_id, tok, n FROM ranked
      WHERE rn <= n - (4 * n + 4) // 5 + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON b.tok = a.tok AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           CAST(i.i AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           {_R9('i.i', 'sa.n + sb.n - i.i')}
             AS jaccard
    FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
                 JOIN sz sb ON sb.doc_id = i.doc_b
    WHERE 9 * i.i >= 4 * (sa.n + sb.n)
    """,
    doc=(
        "EXACT set-similarity join (Jaccard >= 0.8) via prefix "
        "filtering (Chaudhuri et al. ICDE'06 / ppjoin family) - the "
        "zero-false-negative complement to MinHash-LSH (q33): order "
        "each doc's distinct tokens by GLOBAL frequency ascending "
        "(rare first, total tie order (f, tok)), keep the first "
        "n - ceil(t*n) + 1 tokens (integer (4n+4)//5 arithmetic, exact "
        "both engines); two sets can reach Jaccard t only if their "
        "prefixes share a token, so the candidate join is an "
        "equi-join on RARE tokens - bucket sizes are bounded by "
        "construction (the frequency order concentrates join keys on "
        "the thin tail; stopwords never become join keys). Verify is "
        "the exact intersection count with the integer cross-"
        "multiplied threshold 9i >= 4(na+nb) - division only in the "
        "reported jaccard. At 100 TB: the freq attach joins on the "
        "shingle key (the planner broadcasts while the shingle "
        "vocabulary fits, shuffles when it outgrows that - no hint "
        "forces either), the prefix explode is O(corpus tokens) and "
        "deliberately uncached, candidates partition by token."
    ),
)
def q195_prefix_filter_ssjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # 3-word shingle SETS, not token sets: the corpus vocabulary is
    # tiny (~31 tokens) so token prefixes can't discriminate; shingle
    # space is combinatorial, which is why practical SSJoin/dedup
    # operates on shingles (same representation as q32/q33).  The
    # per-doc shingle set is the SAME table q33/q54 consume, so it
    # comes from the shared cached builder (doc_shingle_sets) — the
    # tokenize+shingle regex pass, the most expensive stage, runs once
    # per session across the whole dedup arc; this query only pays the
    # cheap explode from the InMemoryRelation.
    shing = doc_shingle_sets(spark, sf_dir)
    # |toks| IS the set size (the sets are distinct by construction) —
    # carried THROUGH the explode as one int per row, so no per-doc
    # size table ever exists, let alone gets broadcast (r10: the old
    # broadcast(sz) side was corpus-sized — one row per doc — the one
    # growth law a broadcast must never have).
    tok = shing.select(
        "doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok")
    )
    # tok feeds the frequency table AND the prefix rank, but it is NOT
    # cached (r10): the exploded stream is corpus×shingles rows — the
    # one thing the cache policy rule says never to materialize — and
    # re-running the explode is a cheap projection off the already-
    # cached doc_shingle_sets InMemoryRelation.
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    ranked = (
        tok.join(freq, "tok")
        .select(
            "doc_id", "tok", "n",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("f", "tok"))
            .alias("rn"),
        )
    )
    # Materialize the prefix table: BOTH sides of the candidate
    # self-join read it, and without the cache the whole
    # freq-join-window pipeline executes twice (one copy per join
    # side — r09 plan audit).  At 100 TB this ~n/5-sized prefix
    # posting list is exactly the index an SSJoin pipeline persists.
    pref = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", "tok").cache()
    a = pref.select(F.col("doc_id").alias("doc_a"), "tok")
    b = pref.select(F.col("doc_id").alias("doc_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verify: candidates are FEW by construction (the whole point of
    # prefix filtering), so the exact intersection is an in-row
    # array_intersect of the two cached shingle sets — never a join +
    # re-aggregation of the full postings table (r09: that verify was
    # the most expensive stage of the query, two corpus-sized shuffles
    # for a candidate-sized answer).
    sa = shing.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("_ta"))
    sb = shing.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("_tb"))
    i = F.size(F.array_intersect("_ta", "_tb")).cast("long")
    n_a = F.size("_ta").cast("long")
    n_b = F.size("_tb").cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            i.alias("i"), n_a.alias("n_a"), n_b.alias("n_b"),
        )
        .filter(F.lit(9) * F.col("i") >= F.lit(4) * (F.col("n_a") + F.col("n_b")))
        .select(
            "doc_a", "doc_b",
            F.col("i").alias("n_common"),
            F.col("n_a"), F.col("n_b"),
            # exact rational rounding (r16, the q88/q183 class)
            round9_exact("i", "n_a + n_b - i").alias("jaccard"),
        )
    )


@register(
    "q200_pmi_collocations",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                        1, 10000) AS w
      FROM documents),
    uni AS (
      SELECT tok, COUNT(*) AS c FROM (
        SELECT unnest(w) AS tok FROM w) t
      WHERE tok <> '' GROUP BY tok),
    nu AS (SELECT SUM(c) AS nu FROM uni),
    big AS (
      SELECT array_to_string(w[i:i+1], ' ') AS bigram,
             w[i] AS tok_a, w[i+1] AS tok_b, COUNT(*) AS c_ab
      FROM w, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2 GROUP BY 1, 2, 3),
    nb AS (SELECT SUM(c_ab) AS nb FROM big),
    lift AS (
      SELECT b.bigram, b.c_ab, ua.c AS c_a, ub.c AS c_b,
             nu.nu AS nu, nb.nb AS nb2,
             (CAST(b.c_ab AS DOUBLE) * CAST(nu.nu AS DOUBLE)
              * CAST(nu.nu AS DOUBLE))
             / (CAST(nb.nb AS DOUBLE) * CAST(ua.c AS DOUBLE)
                * CAST(ub.c AS DOUBLE)) AS lift
      FROM big b
      JOIN uni ua ON ua.tok = b.tok_a
      JOIN uni ub ON ub.tok = b.tok_b
      CROSS JOIN nu CROSS JOIN nb
      WHERE b.c_ab >= 20),
    r AS (
      SELECT *, row_number() OVER (ORDER BY lift DESC, bigram) AS rank
      FROM lift)
    SELECT CAST(rank AS INTEGER) AS rank, bigram,
           CAST(c_ab AS BIGINT) AS c_ab, CAST(c_a AS BIGINT) AS c_a,
           CAST(c_b AS BIGINT) AS c_b,
           {_R9('CAST(c_ab AS HUGEINT) * nu * nu',
                'CAST(nb2 AS HUGEINT) * c_a * c_b')} AS lift
    FROM r WHERE rank <= 20
    """,
    doc=(
        "PMI collocation mining (the phrase-discovery pass of a "
        "corpus-analysis pipeline): adjacent-token bigram counts vs "
        "unigram counts, scored by the PMI lift ratio "
        "p(ab)/(p(a)p(b)) = c_ab*Nu^2/(Nb*c_a*c_b). The score "
        "deliberately stays the RATIO, not ln(ratio): IEEE *, / are "
        "correctly rounded and engine-identical, ln() is last-ulp "
        "divergent between JVM and DuckDB (the q82/q113 rule), and "
        "ln is monotone so the top-20 ranking is unchanged - callers "
        "take ln client-side. Plan: one explode for unigrams, one "
        "slice-explode for bigrams (both map-side partial-agg to "
        "counts), bigram->unigram count attach via two joins of a "
        "Zipf-tiny vocab table (broadcast at scale), scalar totals "
        "cross-joined as 1-row broadcasts, global top-20 via "
        "WindowGroupLimit on the deterministic (lift, bigram) order. "
        "The corpus token stream shuffles only to count keys - never "
        "row-level text."
    ),
)
def q200_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # per-doc word arrays from the shared cached token table
    w = doc_tokens(spark, sf_dir)
    # Both count tables are Zipf-tiny (vocab-sized / distinct-bigram-
    # sized) but their plans re-scan + re-tokenize the corpus per use
    # (uni feeds ua, ub AND the nu total; big feeds nb) — cache the
    # AGGREGATES so the corpus is scanned exactly twice (once per
    # grain), not five times.
    uni = (
        w.select(F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    nu = F.broadcast(uni.agg(F.sum("c").alias("nu")))
    n = F.size("w")
    grams = F.transform(
        F.sequence(F.lit(0), n - F.lit(2)),
        lambda i: F.struct(
            F.array_join(F.slice("w", i + 1, F.lit(2)), " ").alias("bigram"),
            F.element_at("w", i + 1).alias("tok_a"),
            F.element_at("w", i + 2).alias("tok_b"),
        ),
    )
    big = (
        w.filter(n >= 2)
        .select(F.explode(grams).alias("g"))
        .groupBy("g.bigram", "g.tok_a", "g.tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .cache()
    )
    nb = F.broadcast(big.agg(F.sum("c_ab").alias("nb")))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    lift_col = (
        F.col("c_ab").cast("double")
        * F.col("nu").cast("double")
        * F.col("nu").cast("double")
    ) / (
        F.col("nb").cast("double")
        * F.col("c_a").cast("double")
        * F.col("c_b").cast("double")
    )
    lift = (
        big.filter(F.col("c_ab") >= 20)
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(nu)
        .crossJoin(nb)
        .select("bigram", "c_ab", "c_a", "c_b", "nu", "nb",
                lift_col.alias("lift"))
    )
    # Sort+limit first (TakeOrderedAndProject — per-partition top-k,
    # never a single-partition window sort of the full vocab²-bounded
    # lift table), then number the 20 survivors (r11, the
    # graph.top_ranked / SAX-probe pattern; total tie order keeps
    # positions engine-independent).
    topk = lift.orderBy(F.desc("lift"), "bigram").limit(20)
    r = topk.select(
        "*",
        F.row_number().over(Window.orderBy(F.desc("lift"), "bigram")).alias("rank"),
    )
    # exact rational rounding (r16): rank keeps the raw double order
    # (identical on both engines); the EMITTED lift rounds the exact
    # rational c_ab*Nu^2 / (Nb*c_a*c_b) HALF_UP.
    return r.select(
        F.col("rank").cast("int"),
        "bigram", "c_ab", "c_a", "c_b",
        round9_exact("CAST(c_ab AS DECIMAL(38,0)) * nu * nu",
                     "CAST(nb AS DECIMAL(38,0)) * c_a * c_b")
        .alias("lift"),
    )


@register(
    "q202_skipgram_cooccurrence",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_slice(string_split({_NORM_SQL.format(c='text')}, ' '),
                        1, 10000) AS w
      FROM documents),
    pairs AS (
      SELECT w[i] AS center, w[i+o] AS context,
             CASE WHEN abs(o) = 1 THEN 1 ELSE 0 END AS adj
      FROM w,
           unnest(range(1, len(w) + 1)) AS ti(i),
           unnest([-2, -1, 1, 2]) AS to_(o)
      WHERE i + o >= 1 AND i + o <= len(w)
        AND w[i] <> '' AND w[i+o] <> ''),
    c AS (
      SELECT center, context,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(adj) AS BIGINT) AS n_adjacent
      FROM pairs GROUP BY center, context)
    SELECT center, context, n, n_adjacent FROM c WHERE n >= 10
    """,
    doc=(
        "Skip-gram co-occurrence counts (window +/-2) - the "
        "word2vec/GloVe training-pair build, the windowed "
        "generalization of q200's adjacent bigrams: every "
        "(center, context) token pair within the window, counted "
        "corpus-wide with the adjacent-pair subcount carried "
        "separately (the integer-exact stand-in for 1/distance "
        "weighting). One HOF pass generates the per-doc pair array "
        "in-plan (flatten of per-position transforms over bound "
        "token-array references - no self-join of the exploded "
        "positions, which would shuffle the corpus by doc_id and "
        "blow up as O(tokens*window) rows through the exchange); "
        "the only shuffle is the partial-aggregated count keyed by "
        "the pair, bounded by vocab^2 not corpus size. At 100 TB "
        "this is THE co-occurrence-matrix recipe: map-side combine "
        "eats the Zipf head, AQE skew-join handles the stopword "
        "cells, and the output partitions by center for the "
        "downstream factorization."
    ),
)
def q202_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The HOF pair-array build reads MATERIALIZED word arrays from the
    # shared cached token table (no inline re-tokenization per pair).
    w = doc_tokens(spark, sf_dir).select("w")
    n = F.size("w")
    pairs = T.skipgram_pairs(F.col("w"), window=2)
    return (
        w.filter(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p.adj").alias("n_adjacent"),
        )
        .filter(F.col("n") >= 10)
    )
