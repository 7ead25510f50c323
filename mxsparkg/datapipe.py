"""Training-data pipeline operators over the web-text tables
(documents, embeddings): deduplication, similarity search, text analysis,
crawl admission. Every op registers a `queries()` entry AND a DuckDB
`oracle_sql()` entry (driver correctness gate).

Cross-engine determinism trick: all hashing is built from `md5()` (identical
hex output in Spark and DuckDB), so MinHash signatures, LSH band hashes and
SimHash bits are bit-for-bit comparable between the Spark query and the SQL
oracle. MinHash needs only a total order per hash function — `min()` over
md5 strings of salted shingles is a valid MinHash family.

Scale posture (100 TB corpus):
- dedup_exact / minhash / simhash are single groupBy passes over exploded
  shingles/tokens — map-side partial aggregation keeps the shuffle at
  O(distinct keys), not O(tokens).
- LSH candidate generation joins on (band_id, band_hash) — the whole point
  is to NEVER form the O(n²) pair space; only bucket-mates meet.
- embedding ops precompute norms once, block pairwise work by a key
  (label / LSH bucket), and broadcast the tiny query side for ANN top-k.
- no per-row Python UDFs; the few Python stages (per-group stats,
  Misra-Gries heavy hitters) are applyInPandas / mapInPandas over Arrow
  batches.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------- constants

N_MINHASH = 8           # signature length (production: 128; 8 keeps the oracle cheap)
MINHASH_BAND_ROWS = 2   # → 4 bands; P(band collision) = J^2
N_SIMHASH_BITS = 16     # bits from md5 hex digits (production: 64 — supported, see dedup_simhash)
N_HYPERPLANES = 8       # random-hyperplane LSH → 256 buckets
# Hot-key caps for the dedup self-joins: a shingle shared by D documents
# contributes D² join rows, so boilerplate shingles ("all rights reserved")
# dominate Σ postings² at web scale. Shingles above the df cap carry almost
# no similarity signal (they're in *everything*) — dropping them bounds the
# worst posting list while leaving fixture-corpus results unchanged
# (property-tested). Same story for LSH buckets: a degenerate band hash
# (e.g. empty-text docs) must not create a quadratic bucket.
MAX_SHINGLE_DF = 100        # drop shingles appearing in > this many docs
MAX_LSH_BUCKET_SIZE = 64    # skip candidate buckets larger than this
EMB_DIM = 64
ANN_N_QUERIES = 5
ANN_K = 10

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
    "es": ["el", "los", "las", "y", "que", "una", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist", "nicht"],
}
LANG_PRIORITY = ["en", "fr", "es", "de"]  # deterministic argmax tie-break


def _hyperplanes() -> list[list[float]]:
    """Seeded hyperplanes, rounded to 3dp so the same literals embed in both
    the Spark plan and the SQL oracle (decimal→double parse is exact-nearest
    IEEE in both engines)."""
    rng = np.random.RandomState(42)
    h = rng.standard_normal((N_HYPERPLANES, EMB_DIM))
    return [[round(float(x), 3) for x in row] for row in h]


# ---------------------------------------------------------------- helpers

def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _embs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _shingles(docs: DataFrame) -> DataFrame:
    """documents → distinct (doc_id, sh) word-3-gram shingles.
    Tokenize ONCE into a column, then index it — inlining split() into the
    transform lambda re-evaluates it per element (quadratic per doc).
    Guarded sequence: docs with <3 tokens contribute no shingles."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    sh = F.when(
        F.size("w") >= 3,
        F.expr(
            "transform(sequence(0, size(w) - 3), i -> "
            "concat(w[i], ' ', w[i+1], ' ', w[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select("doc_id", F.explode(sh).alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
    )


def _md5s(col: Column) -> Column:
    return F.md5(col.cast("binary"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (matches DuckDB list_dot_product
    evaluation order → bitwise-identical IEEE result)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vecs_with_norm(embs: DataFrame) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    return embs.select(
        "vec_id",
        "label",
        v.alias("v"),
        F.sqrt(_dot(v, v)).alias("norm"),
    )


_SQL_SHINGLES = """
  toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
  shingles AS (
    SELECT DISTINCT doc_id, sh FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      FROM toks))
"""

_SQL_VECS = """
  vecs AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings)
"""


# ================================================================ dedup

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint. One shuffle on the
    16-byte digest; at 100 TB this is the cheapest possible full-corpus
    dedup (map-side combine collapses per-partition duplicates first)."""
    return (
        _docs(spark, sf)
        .select(_md5s(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_exact_sql() -> str:
    return """
      SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id,
             count(*) AS n_copies
      FROM documents GROUP BY 1
    """


def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, s0..s{n-1}): MinHash over word-3-gram shingles; hash family
    i = md5(i || '|' || shingle), min taken in string order. n_hashes is
    the precision knob: 8 (default) keeps the DuckDB oracle cheap; use
    128 for production-grade Jaccard estimates — the plan shape (one
    explode + one groupBy with n min-aggs, map-side combined) is identical
    at any width."""
    sh = _shingles(docs)
    aggs = [
        F.min(_md5s(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"s{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH banding: signature → 4 bands of 2 rows → band hash.
    Returns (doc_id, band_id, band_hash) bucket assignments. Candidate
    pairs come from joining on (band_id, band_hash) — see
    minhash_candidate_pairs(); the pair step is exercised on planted
    near-dups in tests (driver corpus has no near-dups by construction)."""
    sig = minhash_signatures(_docs(spark, sf))
    bands = F.array(
        *[
            _md5s(
                F.concat(
                    *[
                        F.col(f"s{b * MINHASH_BAND_ROWS + r}")
                        for r in range(MINHASH_BAND_ROWS)
                    ]
                )
            )
            for b in range(N_MINHASH // MINHASH_BAND_ROWS)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(bands).alias("band_id", "band_hash")
    )


def dedup_minhash_lsh_sql() -> str:
    sigs = ", ".join(
        f"min(md5('{i}|' || sh)) AS s{i}" for i in range(N_MINHASH)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"md5(s{b * MINHASH_BAND_ROWS} || s{b * MINHASH_BAND_ROWS + 1}) "
        f"AS band_hash FROM sig"
        for b in range(N_MINHASH // MINHASH_BAND_ROWS)
    )
    return f"WITH {_SQL_SHINGLES}, sig AS (SELECT doc_id, {sigs} FROM shingles GROUP BY doc_id) {bands}"


def minhash_candidate_pairs(
    sig: DataFrame,
    min_est_jaccard: float = 0.5,
    n_hashes: int = N_MINHASH,
    max_bucket_size: int | None = MAX_LSH_BUCKET_SIZE,
) -> DataFrame:
    """LSH candidate pairs: bucket-join on band hashes (never O(n²)), then
    estimate Jaccard as the fraction of agreeing signature components.
    `sig` is the output of minhash_signatures().

    max_bucket_size bounds the worst bucket: a degenerate band hash (empty
    docs, boilerplate) would otherwise contribute |bucket|² join rows. The
    over-cap key set is found with a map-side-combinable groupBy().count()
    and removed with a broadcast anti-join — NOT a count-over-partition
    window, which would buffer the whole degenerate bucket on one reducer
    (exactly the group the cap exists to defuse). The over-cap set is tiny
    by definition (each member covers > cap rows), so the broadcast is
    bounded by corpus_size / cap keys. Pairs inside an over-cap bucket are
    dropped, not sampled — a true near-dup pair colliding in 4 independent
    bands loses at most the degenerate band. Property-tested: fixture
    results identical with the cap on/off."""
    bands = F.array(
        *[
            _md5s(
                F.concat(
                    *[
                        F.col(f"s{b * MINHASH_BAND_ROWS + r}")
                        for r in range(MINHASH_BAND_ROWS)
                    ]
                )
            )
            for b in range(n_hashes // MINHASH_BAND_ROWS)
        ]
    )
    buckets = sig.select(
        "doc_id",
        *[F.col(f"s{i}") for i in range(n_hashes)],
        F.posexplode(bands).alias("band_id", "band_hash"),
    )
    if max_bucket_size is not None:
        over_cap = (
            buckets.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket_size)
            .select("band_id", "band_hash")
        )
        buckets = buckets.join(
            F.broadcast(over_cap), ["band_id", "band_hash"], "left_anti"
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            *[
                (F.col(f"a.s{i}") == F.col(f"b.s{i}")).cast("int").alias(f"m{i}")
                for i in range(n_hashes)
            ],
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    est = sum(F.col(f"m{i}") for i in range(n_hashes)) / float(n_hashes)
    return (
        pairs.select("a_id", "b_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


# same never-alias-a-real-id rule as SEMDEDUP_PLANT_OFFSET (guarded at every
# shipped SF by tests/test_datapipe_guard.py)
MINHASH_PLANT_OFFSET = 1_000_000


def dedup_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-gate key for the LSH candidate-pair JOIN (the one
    quadratic-risk dedup step): bucket self-join + signature-agreement
    Jaccard estimate. The driver corpus has no near-dups by construction,
    so the query plants them deterministically INSIDE the query — for each
    doc_id < 50, a copy at doc_id+1_000_000 with the last word dropped
    (expressible identically in Spark and the SQL oracle; no external
    data). A ~98% shingle-Jaccard copy collides in essentially every band,
    so the pair join, the bucket-size cap and the estimate all do real
    work under the oracle's value-hash gate."""
    sig = minhash_signatures(_docs_with_plants(spark, sf))
    return minhash_candidate_pairs(sig, min_est_jaccard=0.5)


def _docs_with_plants(spark: SparkSession, sf: str) -> DataFrame:
    """documents plus the deterministic in-query near-dup plants shared by
    dedup_minhash_pairs and dedup_cluster: for each doc_id < 50, a copy at
    doc_id + MINHASH_PLANT_OFFSET with the last word dropped."""
    docs = _docs(spark, sf).select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    planted = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + MINHASH_PLANT_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(1))), " "
        ).alias("text"),
    )
    return docs.unionByName(planted)


def _minhash_pairs_ctes() -> str:
    """The shared DuckDB CTE chain (docs2 → … → pairs) composed by
    dedup_minhash_pairs_sql and dedup_cluster_sql — exposed as a helper
    both render, never sliced out of a rendered query string."""
    sigs = ", ".join(
        f"min(md5('{i}|' || sh)) AS s{i}" for i in range(N_MINHASH)
    )
    sig_cols = ", ".join(f"s{i}" for i in range(N_MINHASH))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {sig_cols}, {b} AS band_id, "
        f"md5(s{b * MINHASH_BAND_ROWS} || s{b * MINHASH_BAND_ROWS + 1}) "
        f"AS band_hash FROM sig"
        for b in range(N_MINHASH // MINHASH_BAND_ROWS)
    )
    matches = " + ".join(
        f"CAST(a.s{i} = b.s{i} AS INT)" for i in range(N_MINHASH)
    )
    return f"""docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {MINHASH_PLANT_OFFSET} AS doc_id,
               array_to_string(
                 list_slice(w, 1, greatest(len(w) - 1, 1)), ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id < 50)),
      toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
      shingles AS MATERIALIZED (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
          FROM toks)),
      sig AS (SELECT doc_id, {sigs} FROM shingles GROUP BY doc_id),
      buckets AS ({bands}),
      ok AS (SELECT band_id, band_hash FROM buckets
             GROUP BY 1, 2 HAVING count(*) <= {MAX_LSH_BUCKET_SIZE}),
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               ({matches}) / {float(N_MINHASH)} AS est_jaccard
        FROM buckets a
        JOIN ok ON ok.band_id = a.band_id AND ok.band_hash = a.band_hash
        JOIN buckets b ON a.band_id = b.band_id
             AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"""


def dedup_minhash_pairs_sql() -> str:
    return (
        f"WITH {_minhash_pairs_ctes()}\n"
        "      SELECT a_id, b_id, est_jaccard FROM pairs"
        " WHERE est_jaccard >= 0.5"
    )


def minhash_pair_quality(
    docs: DataFrame, min_est_jaccard: float = 0.5
) -> DataFrame:
    """MinHash ESTIMATE vs EXACT shingle Jaccard per LSH candidate pair —
    the calibration table a user tunes min_est_jaccard / the band config
    with, extending the measurement discipline the ANN layer already has
    (BENCH/ANN.md recall curves) to the dedup layer: an estimator you
    never measure is an estimator you can't trust at a new corpus.

    Exact Jaccard is computed ONLY for candidate pairs (|pairs| ≪ n²; the
    quadratic risk stays inside the capped bucket join), as two integer
    counts: n_common via a (pair ⋈ shingles ⋈ shingles) equi-join whose
    work is Σ per-pair shingle counts, and n_union = |A| + |B| − n_common
    from the per-doc size table. Every similarity is integer ppm —
    est_ppm is exact because 8-hash agreement fractions are multiples of
    1/8 (exactly representable, so the ×10⁶ cast is the same integer in
    both engines); exact_ppm is a nonneg integer floor-division. err_ppm
    = |est − exact| is the number the tuning decision reads."""
    # persist lifetime note (applies to every persist in this function):
    # the cache must outlive the RETURNED lazy plan, which references
    # these frames 2-3x — unpersisting before return would silently
    # recompute per reference. Single-shot-per-session by design; a
    # long-lived session calling many such ops should wrap each call in
    # its own evaluation + spark.catalog.clearCache().
    sh = _shingles(docs).persist()  # referenced 3x: sizes + both pair sides
    sig = minhash_signatures(docs)
    cand = minhash_candidate_pairs(
        sig, min_est_jaccard=min_est_jaccard
    ).persist()
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    common = (
        cand.select("a_id", "b_id")
        .join(sh.select(F.col("doc_id").alias("a_id"), "sh"), "a_id")
        .join(
            sh.select(F.col("doc_id").alias("b_id"), "sh"), ["b_id", "sh"]
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    out = (
        # left join: at min_est_jaccard=0.0 (calibration runs, e.g.
        # jobs/bench_dedup.py) a candidate pair can share ZERO shingles —
        # it must surface as exact_ppm=0, not vanish from the table.
        cand.join(common, ["a_id", "b_id"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .join(sizes.select(F.col("doc_id").alias("a_id"),
                           F.col("n").alias("n_a")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"),
                           F.col("n").alias("n_b")), "b_id")
        .select(
            "a_id", "b_id",
            (F.col("est_jaccard") * 1000000).cast("bigint").alias("est_ppm"),
            "n_common",
            (F.col("n_a") + F.col("n_b") - F.col("n_common")).alias("n_union"),
        )
        .select(
            "a_id", "b_id", "est_ppm", "n_common", "n_union",
            F.expr("n_common * 1000000 div n_union").alias("exact_ppm"),
        )
        .select(
            "*",
            F.abs(F.col("est_ppm") - F.col("exact_ppm")).alias("err_ppm"),
        )
    )
    return out.orderBy("a_id", "b_id")


def dedup_minhash_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: minhash_pair_quality over documents + the deterministic
    near-dup plants — every planted pair's estimate, exact Jaccard, and
    error in exact ppm under one value hash."""
    return minhash_pair_quality(_docs_with_plants(spark, sf))


def dedup_minhash_quality_sql() -> str:
    return f"""
      WITH {_minhash_pairs_ctes()},
      cand AS MATERIALIZED (
        SELECT a_id, b_id, est_jaccard FROM pairs
        WHERE est_jaccard >= 0.5),
      sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        FROM shingles GROUP BY doc_id),
      common AS (
        SELECT p.a_id, p.b_id, CAST(count(*) AS BIGINT) AS n_common
        FROM cand p
        JOIN shingles sa ON sa.doc_id = p.a_id
        JOIN shingles sb ON sb.doc_id = p.b_id AND sb.sh = sa.sh
        GROUP BY p.a_id, p.b_id),
      q AS (
        SELECT c.a_id, c.b_id,
               CAST(c.est_jaccard * 1000000 AS BIGINT) AS est_ppm,
               COALESCE(m.n_common, 0) AS n_common,
               sa.n + sb.n - COALESCE(m.n_common, 0) AS n_union
        FROM cand c
        LEFT JOIN common m ON m.a_id = c.a_id AND m.b_id = c.b_id
        JOIN sizes sa ON sa.doc_id = c.a_id
        JOIN sizes sb ON sb.doc_id = c.b_id)
      SELECT a_id, b_id, est_ppm, n_common, n_union,
             n_common * 1000000 // n_union AS exact_ppm,
             abs(est_ppm - n_common * 1000000 // n_union) AS err_ppm
      FROM q ORDER BY a_id, b_id
    """


DEDUP_CLUSTER_ITERS = 3


def cluster_near_dups(
    docs: DataFrame,
    iters: int = DEDUP_CLUSTER_ITERS,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate CLUSTERS with a keep/drop decision — the step a
    production corpus pipeline runs after pair generation: LSH candidate
    pairs are only pairwise evidence, and near-dup relations chain (A≈B,
    B≈C ⇒ {A,B,C} must dedup together or the kept set still contains
    near-dups). Composes the two certified primitives: minhash candidate
    pairs (quadratic-risk step, bucket-capped) → bounded min-label
    propagation over the pair graph (graphquery.minlabel_propagate, the
    oracle-checkable CC core). Output one row per document (planted
    near-dups included): its cluster id (min doc_id reachable in
    DEDUP_CLUSTER_ITERS rounds) and keep = 1 iff the doc is its cluster's
    representative — the exact rows a training-data filter joins against.
    Scale shape: everything is the constituent ops' shapes; the extra
    work is iters × (equi-join + min-agg) over the SPARSE pair graph
    (|pairs| ≪ corpus), plus one left join back to the full corpus.
    3 rounds merges chains up to diameter 8 (2^3); production reuses
    graph.py's convergent star-contraction CC instead. `docs` is any
    (doc_id, text) frame; returns (doc_id, cluster, keep)."""
    from mxsparkg.graphquery import minlabel_propagate

    docs2 = docs.select("doc_id", "text")
    sig = minhash_signatures(docs2)
    cand = minhash_candidate_pairs(sig, min_est_jaccard=min_est_jaccard)
    sym = cand.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("src"), F.col("b_id").alias("dst")),
                F.struct(F.col("b_id").alias("src"), F.col("a_id").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    lab = minlabel_propagate(sym, iters=iters)
    out = docs2.select("doc_id").join(
        lab.withColumnRenamed("src", "doc_id"), "doc_id", "left"
    )
    cluster = F.coalesce("label", "doc_id")
    return out.select(
        "doc_id",
        cluster.alias("cluster"),
        (F.col("doc_id") == cluster).cast("int").alias("keep"),
    )


def dedup_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: cluster_near_dups over documents + the deterministic
    in-query plants (each planted copy must land in its original's
    cluster with keep=0)."""
    return cluster_near_dups(_docs_with_plants(spark, sf))


def dedup_cluster_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, DEDUP_CLUSTER_ITERS + 1):
        rounds.append(
            f"""nm{i} AS (
        SELECT e.dst AS src, min(p.label) AS nl
        FROM sym e JOIN {prev} p ON p.src = e.src GROUP BY e.dst),
      l{i} AS (
        SELECT p.src, least(p.label, coalesce(m.nl, p.label)) AS label
        FROM {prev} p LEFT JOIN nm{i} m ON m.src = p.src)"""
        )
        prev = f"l{i}"
    chain = ",\n      ".join(rounds)
    return f"""
      WITH {_minhash_pairs_ctes()},
      cand AS (SELECT a_id, b_id FROM pairs WHERE est_jaccard >= 0.5),
      sym AS (
        SELECT a_id AS src, b_id AS dst FROM cand
        UNION ALL SELECT b_id AS src, a_id AS dst FROM cand),
      nodes AS (SELECT DISTINCT src FROM sym),
      l0 AS (SELECT src, src AS label FROM nodes),
      {chain}
      SELECT d.doc_id,
             coalesce(l.label, d.doc_id) AS cluster,
             CAST(d.doc_id = coalesce(l.label, d.doc_id) AS INT) AS keep
      FROM docs2 d LEFT JOIN {prev} l ON l.src = d.doc_id
    """


def dedup_simhash(
    spark: SparkSession, sf: str, n_bits: int = N_SIMHASH_BITS
) -> DataFrame:
    """SimHash: n-bit fingerprint; bit j of a token = ((j mod 32)-th hex
    digit of md5((j div 32) || '|'-salted token) >= '8'), document bit =
    sign of the ±1 vote sum over all tokens (duplicates weighted, classic
    SimHash). One explode + one groupBy with n conditional sums — fully
    map-side combinable at any width.

    n_bits is the precision knob: 16 (default) keeps the oracle cheap;
    production near-dup detection wants 64 — one md5 yields 32 hex digits,
    so widths >32 chain salted digests (h0, h1, ...). Plan shape and
    shuffle volume per doc are unchanged (one row of n small longs)."""
    n_hashes = (n_bits + 31) // 32
    toks = _docs(spark, sf).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    for k in range(n_hashes):
        salt = F.col("tok") if k == 0 else F.concat(F.lit(f"{k}|"), F.col("tok"))
        toks = toks.withColumn(f"h{k}", _md5s(salt))
    votes = [
        F.sum(
            F.when(
                F.substring(f"h{j // 32}", j % 32 + 1, 1) >= "8", 1
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bits = F.concat(
        *[
            F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_bits)
        ]
    )
    return agg.select("doc_id", bits.alias("simhash"))


def dedup_simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{j}"
        for j in range(N_SIMHASH_BITS)
    )
    bits = " || ".join(
        f"CASE WHEN b{j} > 0 THEN '1' ELSE '0' END"
        for j in range(N_SIMHASH_BITS)
    )
    return f"""
      WITH toks AS (
        SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
        FROM documents),
      agg AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
      SELECT doc_id, {bits} AS simhash FROM agg
    """


def dedup_ngram_jaccard(
    spark: SparkSession, sf: str, max_doc_freq: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """Exact word-3-gram Jaccard: top-50 most-similar doc pairs. The
    inverted-index self-join on the shingle key means cost is
    O(Σ postings²), not O(n_docs²) — the standard scale-out exact-Jaccard
    plan. Deterministic total order (jacc desc, a_id, b_id).

    max_doc_freq caps the worst posting list: a boilerplate shingle in D
    docs costs D² join rows, so shingles with df > cap are excluded from
    the intersection count (denominators keep the TRUE per-doc shingle
    counts, so capped Jaccard is a lower bound, never inflated). The
    over-cap shingles are found with a map-side-combinable
    groupBy().count() and removed by broadcast anti-join — not a window,
    which would buffer the exact degenerate posting list the cap guards
    against on one reducer. The over-cap set is ≤ total_postings / cap
    keys, so the broadcast stays small at any corpus size. The identical
    cap is applied in the DuckDB oracle — both engines compute the same
    capped semantics bit-for-bit."""
    sh = _shingles(_docs(spark, sf))
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    capped = sh
    if max_doc_freq is not None:
        over_cap = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("sh")
        )
        capped = sh.join(F.broadcast(over_cap), "sh", "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na")
    )
    cb = counts.select(
        F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb")
    )
    jacc = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(ca, "a_id")
        .join(cb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.col("inter").alias("n_common"),
            F.round(jacc, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a_id", "b_id")
        .limit(50)
    )


def dedup_ngram_jaccard_sql() -> str:
    return f"""
      WITH {_SQL_SHINGLES},
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1),
      capped AS (
        SELECT doc_id, sh FROM shingles
        QUALIFY count(*) OVER (PARTITION BY sh) <= {MAX_SHINGLE_DF}),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
        FROM capped a JOIN capped b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT i.a_id, i.b_id, i.n_common,
             round(i.n_common / (ca.n_sh + cb.n_sh - i.n_common), 6) AS jaccard
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.a_id
      JOIN counts cb ON cb.doc_id = i.b_id
      ORDER BY i.n_common / (ca.n_sh + cb.n_sh - i.n_common) DESC, i.a_id, i.b_id
      LIMIT 50
    """


def dedup_embed_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup: top-20 cosine pairs, blocked by label so the
    pair space is Σ|block|² not n² (at 100 TB the block key would be an
    LSH bucket — see ann_lsh_topk — or a coarse cluster id)."""
    v = _vecs_with_norm(_embs(spark, sf))
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.col("a.label").alias("label"),
            cos.alias("cos_raw"),
        )
        .orderBy(F.desc("cos_raw"), "a_id", "b_id")
        .limit(20)
        .select("a_id", "b_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


def dedup_embed_cosine_sql() -> str:
    return f"""
      WITH {_SQL_VECS}
      SELECT a_id, b_id, label, round(cos_raw, 6) AS cosine FROM (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
               list_dot_product(a.v, b.v) / (a.norm * b.norm) AS cos_raw
        FROM vecs a JOIN vecs b
          ON a.label = b.label AND a.vec_id < b.vec_id
        ORDER BY cos_raw DESC, a_id, b_id LIMIT 20)
    """


# ================================================================ ANN

def ann_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k baseline: 5 query vectors × all corpus
    vectors. Query side is tiny → broadcast, so the scan side never
    shuffles; at 100 TB this is one pass over the embedding table."""
    v = _vecs_with_norm(_embs(spark, sf))
    q = v.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos_raw"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(
        F.desc("cos_raw"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select(
            "q_id",
            "rank",
            "vec_id",
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


def ann_topk_cosine_sql() -> str:
    return f"""
      WITH {_SQL_VECS},
      q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM vecs
            WHERE vec_id < {ANN_N_QUERIES}),
      scored AS (
        SELECT q.q_id, vecs.vec_id,
               list_dot_product(q.qv, vecs.v) / (q.qnorm * vecs.norm) AS cos_raw
        FROM vecs CROSS JOIN q WHERE vecs.vec_id != q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cos_raw,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_raw DESC, vec_id) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= {ANN_K}
    """


def _bucket_col() -> Column:
    v = F.col("embedding").cast("array<double>")
    bits = []
    for h in _hyperplanes():
        d = _dot(v, F.array(*[F.lit(x) for x in h]))
        bits.append(F.when(d > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _bucket_sql_expr() -> str:
    parts = []
    for h in _hyperplanes():
        lit = "[" + ", ".join(repr(x) for x in h) + "]"
        parts.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
            f"THEN '1' ELSE '0' END"
        )
    return " || ".join(parts)


def ann_lsh_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (the ANN scale path): 8
    seeded hyperplanes → 256 buckets; search then touches one bucket
    instead of the full corpus."""
    return _embs(spark, sf).select("vec_id", _bucket_col().alias("bucket"))


def ann_lsh_bucket_sql() -> str:
    return f"SELECT vec_id, {_bucket_sql_expr()} AS bucket FROM embeddings"


def ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN: top-3 cosine neighbors per vector *within its
    bucket*. The bucket equi-join replaces the n² pair space with
    Σ|bucket|² — the scale path that makes ANN feasible at 10^9 vectors."""
    v = _vecs_with_norm(_embs(spark, sf)).join(
        ann_lsh_bucket(spark, sf), "vec_id"
    )
    a, b = v.alias("a"), v.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    scored = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nn_id"),
        cos.alias("cos_raw"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_raw"), F.col("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("vec_id", "rank", "nn_id", F.round("cos_raw", 6).alias("cosine"))
    )


def ann_lsh_topk_sql() -> str:
    return f"""
      WITH {_SQL_VECS},
      bucketed AS (
        SELECT vec_id, {_bucket_sql_expr()} AS bucket FROM embeddings),
      bv AS (SELECT vecs.vec_id, vecs.v, vecs.norm, bucketed.bucket
             FROM vecs JOIN bucketed ON vecs.vec_id = bucketed.vec_id),
      scored AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
               list_dot_product(a.v, b.v) / (a.norm * b.norm) AS cos_raw
        FROM bv a JOIN bv b
          ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
      ranked AS (
        SELECT vec_id, nn_id, cos_raw,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_raw DESC, nn_id) AS rank
        FROM scored)
      SELECT vec_id, rank, nn_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= 3
    """


def _lsh_flip(bucket: Column, i: int) -> Column:
    """The bucket string with sign-bit i (1-based) flipped — the
    Hamming-1 neighbor along hyperplane i."""
    return F.concat(
        F.substring(bucket, 1, i - 1),
        F.when(F.substring(bucket, i, 1) == "1", F.lit("0")).otherwise(
            F.lit("1")),
        F.substring(bucket, i + 1, N_HYPERPLANES - i),
    )


def _lsh_probe_variants(bucket: Column, radius: int) -> list[Column]:
    """All probe buckets within Hamming distance `radius` of the query's
    own bucket (radius 0 = the single-bucket search). Bit flips commute,
    so variants are generated in a fixed (i) / (i<j) order — distinct
    strings, no dedup needed. Count: 1, 1+8, 1+8+28 for radius 0/1/2."""
    if radius not in (0, 1, 2):
        raise ValueError(f"radius must be 0, 1 or 2 (got {radius})")
    variants = [bucket]
    if radius >= 1:
        variants += [_lsh_flip(bucket, i)
                     for i in range(1, N_HYPERPLANES + 1)]
    if radius >= 2:
        variants += [
            _lsh_flip(_lsh_flip(bucket, i), j)
            for i in range(1, N_HYPERPLANES + 1)
            for j in range(i + 1, N_HYPERPLANES + 1)
        ]
    return variants


def lsh_multiprobe_topk(
    spark: SparkSession,
    sf: str,
    radius: int = 1,
    k: int = ANN_K,
    n_queries: int = ANN_N_QUERIES,
) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): search the query's bucket
    PLUS every bucket within Hamming distance `radius` of it. Single-
    bucket LSH's recall ceiling is the probability the true neighbors
    share ALL 8 hyperplane signs — measured 0.436 on the 100k bench
    corpus (BENCH/ANN.md); a near neighbor falls on the far side of one
    near-tangent hyperplane far too often. Probing the 8 Hamming-1
    buckets recovers exactly those one-plane misses (measured 0.839 at
    ~5% scan; radius 2 → 0.962 at ~17%), trading scan fraction for
    recall WITHOUT re-hashing or extra tables — the same bucketed index
    serves every radius.

    Scale shape: identical to the single-bucket search — the corpus side
    never shuffles (bucket assignment is a narrow pass over the stored
    index); the query side explodes to 9 (or 37) probe rows per query
    and broadcasts; candidates stay bounded by Σ probed-bucket sizes."""
    from pyspark.sql.window import Window

    bucketed = _embs(spark, sf).select(
        "vec_id", _bucket_col().alias("bucket"))
    v = _vecs_with_norm(_embs(spark, sf)).join(bucketed, "vec_id")
    q = v.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "q_id", "qv", "qnorm",
        F.explode(
            F.array(*_lsh_probe_variants(F.col("qb"), radius))
        ).alias("bucket"),
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        v.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos_raw"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id",
                F.round("cos_raw", 6).alias("cosine"))
    )


def ann_lsh_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: Hamming-1 multi-probe LSH top-k for the standard query
    set — certifies the probe-bucket generation (every flip of every
    sign bit), the bucketed candidate join, and the exact re-ranking
    under one value hash."""
    return lsh_multiprobe_topk(spark, sf, radius=1)


def ann_lsh_multiprobe_sql() -> str:
    """Oracle: same flips spelled as substr surgery over the bucket
    string — probe index i=0 keeps the bucket, i=1..8 flips bit i."""
    return f"""
      WITH {_SQL_VECS},
      bucketed AS (
        SELECT vec_id, {_bucket_sql_expr()} AS bucket FROM embeddings),
      bv AS (SELECT vecs.vec_id, vecs.v, vecs.norm, bucketed.bucket
             FROM vecs JOIN bucketed ON vecs.vec_id = bucketed.vec_id),
      q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm, bucket AS qb
            FROM bv WHERE vec_id < {ANN_N_QUERIES}),
      probes AS (
        SELECT q_id, qv, qnorm,
               CASE WHEN i = 0 THEN qb
                    ELSE substr(qb, 1, i - 1)
                         || (CASE WHEN substr(qb, i, 1) = '1'
                             THEN '0' ELSE '1' END)
                         || substr(qb, i + 1, {N_HYPERPLANES} - i)
               END AS bucket
        FROM q, range(0, {N_HYPERPLANES + 1}) t(i)),
      scored AS (
        SELECT p.q_id, a.vec_id,
               list_dot_product(p.qv, a.v) / (p.qnorm * a.norm) AS cos_raw
        FROM bv a JOIN probes p ON a.bucket = p.bucket
        WHERE a.vec_id != p.q_id),
      ranked AS (
        SELECT q_id, vec_id, cos_raw,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_raw DESC, vec_id) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= {ANN_K}
    """


N_IVF_CELLS = 16
IVF_NPROBE = 4


def _centroids(k: int = N_IVF_CELLS) -> list[list[float]]:
    """Seeded coarse-quantizer centroids (the trained-kmeans stand-in),
    rounded to 3dp so identical literals embed in Spark and the oracle.
    Row-major RNG fill ⇒ the first 16 rows are identical for any k ≥ 16,
    so widening k never perturbs the oracle defaults."""
    rng = np.random.RandomState(7)
    c = rng.standard_normal((k, EMB_DIM)) * 0.1
    return [[round(float(x), 3) for x in row] for row in c]


def _ivf_assign_df(spark: SparkSession, sf: str, id_col: str = "vec_id") -> DataFrame:
    """vector → nearest centroid by L2 (d² = |v|² − 2·v·c + |c|²; only the
    −2·v·c + |c|² part varies per cell). One narrow pass, no shuffle."""
    v = _vecs_with_norm(_embs(spark, sf))
    cents = _centroids()
    dist_cols = []
    for ci, c in enumerate(cents):
        carr = F.array(*[F.lit(x) for x in c])
        c2 = sum(x * x for x in c)
        # _dot(v,v), NOT norm*norm: sqrt-then-square is not bitwise equal to
        # the dot product, and the DuckDB oracle uses list_dot_product(v,v) —
        # near-tie centroid assignments must not diverge between engines.
        # (|v|² is constant across cells so it can't change the argmin *within*
        # one engine, but the oracle compares the assignment itself.)
        d2 = _dot(F.col("v"), F.col("v")) - 2.0 * _dot(F.col("v"), carr) + F.lit(c2)
        dist_cols.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cell")))
    best = F.array_min(F.array(*dist_cols))
    return v.select(
        F.col("vec_id").alias(id_col),
        "v",
        "norm",
        best.getField("cell").alias("cell"),
    )


def ann_ivf_assign(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest of 16
    seeded centroids. At 10^9 vectors this is the partition key that turns
    ANN into a per-cell local problem."""
    return _ivf_assign_df(spark, sf).select("vec_id", "cell")


def _sql_ivf_assign(alias: str = "assign") -> str:
    rows = ", ".join(
        f"({ci}, {c!r}::DOUBLE[])" for ci, c in enumerate(_centroids())
    )
    return f"""
  cents(cell, c) AS (VALUES {rows}),
  {alias} AS (
    SELECT vec_id, v, norm, cell FROM (
      SELECT vecs.vec_id, vecs.v, vecs.norm, cents.cell,
             row_number() OVER (
               PARTITION BY vecs.vec_id
               ORDER BY list_dot_product(vecs.v, vecs.v)
                        - 2 * list_dot_product(vecs.v, cents.c)
                        + list_dot_product(cents.c, cents.c),
                        cents.cell) AS rk
      FROM vecs CROSS JOIN cents) WHERE rk = 1)
"""


def ann_ivf_assign_sql() -> str:
    return (
        f"WITH {_SQL_VECS}, {_sql_ivf_assign()} "
        "SELECT vec_id, cell FROM assign"
    )


def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe search: per query vector, search only its IVF_NPROBE
    nearest cells for cosine top-k — the coarse-quantizer ANN scale path
    (touches nprobe/ncells of the corpus instead of all of it)."""
    from pyspark.sql.window import Window

    assigned = _ivf_assign_df(spark, sf)
    cents = _centroids()
    q = assigned.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    probe_cols = []
    for ci, c in enumerate(cents):
        carr = F.array(*[F.lit(x) for x in c])
        c2 = sum(x * x for x in c)
        # same identical-expression rule as _ivf_assign_df: dot(qv,qv), not
        # qnorm*qnorm, so probe ranking matches the oracle bit-for-bit
        d2 = (
            _dot(F.col("qv"), F.col("qv"))
            - 2.0 * _dot(F.col("qv"), carr)
            + F.lit(c2)
        )
        probe_cols.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cell")))
    probes = q.select(
        "q_id", "qv", "qnorm",
        F.explode(
            F.slice(F.array_sort(F.array(*probe_cols)), 1, IVF_NPROBE)
        ).alias("p"),
    ).select("q_id", "qv", "qnorm", F.col("p.cell").alias("cell"))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos_raw"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


def ann_ivf_topk_sql() -> str:
    return f"""
      WITH {_SQL_VECS}, {_sql_ivf_assign()},
      q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM vecs
            WHERE vec_id < {ANN_N_QUERIES}),
      probes AS (
        SELECT q_id, qv, qnorm, cell FROM (
          SELECT q.q_id, q.qv, q.qnorm, cents.cell,
                 row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.qv, q.qv)
                            - 2 * list_dot_product(q.qv, cents.c)
                            + list_dot_product(cents.c, cents.c),
                            cents.cell) AS rk
          FROM q CROSS JOIN cents) WHERE rk <= {IVF_NPROBE}),
      scored AS (
        SELECT p.q_id, a.vec_id,
               list_dot_product(p.qv, a.v) / (p.qnorm * a.norm) AS cos_raw
        FROM assign a JOIN probes p ON a.cell = p.cell
        WHERE a.vec_id != p.q_id),
      ranked AS (
        SELECT q_id, vec_id, cos_raw,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_raw DESC, vec_id) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= {ANN_K}
    """


# ------------------------------------------------- distributed k-means IVF

KMEANS_ITERS = 3


def _assign_df(vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
    """vectors → nearest centroid (argmin L2, cell-asc tie-break) against a
    centroid literal list. One narrow pass — the per-iteration 'E-step'.
    Keeps every input column (norm etc.) and appends `cell`."""
    dist_cols = []
    for ci, c in enumerate(cents):
        carr = F.array(*[F.lit(x) for x in c])
        c2 = sum(x * x for x in c)
        d2 = _dot(F.col("v"), F.col("v")) - 2.0 * _dot(F.col("v"), carr) + F.lit(c2)
        dist_cols.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cell")))
    best = F.array_min(F.array(*dist_cols))
    return vecs.withColumn("cell", best.getField("cell"))


def _means_df(assigned: DataFrame) -> DataFrame:
    """'M-step': per-(cell, dim) mean. Exact decimal(38,10) sums make the
    result independent of partitioning/summation order, so the Spark value
    and the DuckDB oracle value are bit-identical after the same
    cast-to-double + divide + round(6)."""
    vals = assigned.select(
        "cell", F.posexplode("v").alias("pos0", "val")
    ).select("cell", (F.col("pos0") + 1).alias("pos"), "val")
    return vals.groupBy("cell", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mv")
    )


def _kmeanspp_init(vecs: DataFrame, k: int) -> list[list[float]]:
    """Deterministic k-means++-style seeding (farthest-first traversal,
    Gonzalez 1985 — the argmax variant of the k-means++ D² sampling):
    start from the min-vec_id vector, then repeatedly take the vector
    maximizing its distance to the nearest chosen centroid (tie-break
    min vec_id). k cheap full-scan argmax jobs — each is one narrow pass
    + a 1-row limit, the standard distributed seeding shape (the data
    never moves; only one vector crosses to the driver per step)."""
    first = vecs.orderBy("vec_id").limit(1).collect()[0]
    chosen: list[list[float]] = [[float(x) for x in first["v"]]]
    while len(chosen) < k:
        dists = []
        for c in chosen:
            carr = F.array(*[F.lit(x) for x in c])
            c2 = sum(x * x for x in c)
            dists.append(
                _dot(F.col("v"), F.col("v"))
                - 2.0 * _dot(F.col("v"), carr)
                + F.lit(c2)
            )
        mind = F.least(*dists) if len(dists) > 1 else dists[0]
        nxt = (
            vecs.select("vec_id", "v", mind.alias("d"))
            .orderBy(F.desc("d"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        chosen.append([float(x) for x in nxt["v"]])
    return chosen


# Memo for trained centroids: ann_kmeans_centroids / _assign / _topk share
# one training run per (sf, iters, k, init) instead of re-running Lloyd's
# from scratch per contract key. Deterministic, so caching is sound.
_KMEANS_MEMO: dict[tuple, list[list[float]]] = {}


def _kmeans_train(
    spark: SparkSession,
    sf: str,
    iters: int = KMEANS_ITERS,
    k: int = N_IVF_CELLS,
    init: str = "seeded",
) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means over the embedding table, Spark-first: assignment
    and means are DataFrame jobs; only the k×dim centroid table crosses to
    the driver between iterations (the textbook Spark k-means shape — the
    model is small, the data never moves). Returns (centroids after
    `iters` iterations, vectors DF). Empty cells keep their previous
    centroid.

    k / iters / init are the production knobs (defaults = oracle widths):
    init='seeded' starts from the same literals the static IVF ops use;
    init='kmeanspp' runs the deterministic farthest-first seeding
    (_kmeanspp_init) — better-spread cells on clustered data at the cost
    of k extra scan jobs."""
    vecs = _vecs_with_norm(_embs(spark, sf)).select("vec_id", "v")
    memo_key = (sf, iters, k, init)
    if memo_key in _KMEANS_MEMO:
        return _KMEANS_MEMO[memo_key], vecs
    if init == "kmeanspp":
        cur = _kmeanspp_init(vecs, k)
    elif init == "seeded":
        cur = _centroids(k)
    else:
        raise ValueError(f"unknown k-means init {init!r}")
    for _ in range(iters):
        means = _means_df(_assign_df(vecs, cur)).collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["mv"]
        cur = [
            [by_cell[ci][p + 1] for p in range(len(cur[ci]))]
            if ci in by_cell else cur[ci]
            for ci in range(len(cur))
        ]
    _KMEANS_MEMO[memo_key] = cur
    return cur, vecs


def ann_kmeans_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed k-means IVF training (the trained coarse quantizer the
    seeded-literal IVF ops stand in for): 3 Lloyd iterations; the LAST
    M-step is returned as a DataFrame computation (distributed means →
    per-cell ordered array), so the driver gate checks the distributed
    aggregation itself, not a driver-computed copy."""
    prev, vecs = _kmeans_train(spark, sf, KMEANS_ITERS - 1)
    means = _means_df(_assign_df(vecs, prev))
    arrs = means.groupBy("cell").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mv))), x -> x.mv)"
        ).alias("c")
    )
    prev_arr = F.array(*[
        F.array(*[F.lit(x) for x in c]) for c in prev
    ])
    cells = spark.range(N_IVF_CELLS).select(F.col("id").cast("int").alias("cell"))
    return (
        cells.join(arrs, "cell", "left")
        .select(
            "cell",
            F.coalesce(
                F.col("c"), F.element_at(prev_arr, F.col("cell") + 1)
            ).alias("c"),
        )
    )


def ann_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Final cluster assignment under the trained centroids — the
    partition key a production IVF index would persist."""
    cents, vecs = _kmeans_train(spark, sf, KMEANS_ITERS)
    return _assign_df(vecs, cents).select("vec_id", "cell")


def _sql_kmeans_cte(iters: int) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs: centsN → assignN →
    meansN+1 → centsN+1, with the identical decimal-exact mean and the
    identical argmin expression as the Spark side."""
    rows = ", ".join(
        f"({ci}, {c!r}::DOUBLE[])" for ci, c in enumerate(_centroids())
    )
    parts = [f"cents0(cell, c) AS (VALUES {rows})"]

    def assign_cte(i: int) -> str:
        return f"""
  a{i} AS (
    SELECT vec_id, v, cell FROM (
      SELECT vecs.vec_id, vecs.v, cents{i}.cell,
             row_number() OVER (
               PARTITION BY vecs.vec_id
               ORDER BY list_dot_product(vecs.v, vecs.v)
                        - 2 * list_dot_product(vecs.v, cents{i}.c)
                        + list_dot_product(cents{i}.c, cents{i}.c),
                        cents{i}.cell) AS rk
      FROM vecs CROSS JOIN cents{i}) WHERE rk = 1)"""

    for i in range(iters):
        parts.append(assign_cte(i))
        parts.append(f"""
  m{i + 1} AS (
    SELECT cell, i AS pos,
           round(CAST(sum(CAST(v[i] AS DECIMAL(38,10))) AS DOUBLE)
                 / count(*), 6) AS mv
    FROM a{i}, range(1, {EMB_DIM + 1}) t(i)
    GROUP BY cell, i)""")
        parts.append(f"""
  cents{i + 1} AS (
    SELECT cents{i}.cell, COALESCE(nl.c, cents{i}.c) AS c
    FROM cents{i} LEFT JOIN (
      SELECT cell, list(mv ORDER BY pos) AS c FROM m{i + 1} GROUP BY cell
    ) nl ON cents{i}.cell = nl.cell)""")
    # final assignment under the TRAINED centroids (what Spark's
    # train-then-assign computes)
    parts.append(assign_cte(iters))
    return ",".join(parts)


def ann_kmeans_centroids_sql() -> str:
    return (
        f"WITH {_SQL_VECS}, {_sql_kmeans_cte(KMEANS_ITERS)} "
        f"SELECT cell, c FROM cents{KMEANS_ITERS}"
    )


def ann_kmeans_assign_sql() -> str:
    return (
        f"WITH {_SQL_VECS}, {_sql_kmeans_cte(KMEANS_ITERS)} "
        f"SELECT vec_id, cell FROM a{KMEANS_ITERS} "
    )


def ann_kmeans_topk(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end trained-IVF ANN: the A3' probe search run against the
    TRAINED k-means centroids from A4' (not the seeded stand-ins) — train
    → assign → probe → top-k as one operator, the full production IVF
    lifecycle. Per query: rank the trained cells by L2, search the
    IVF_NPROBE nearest cells for cosine top-k. The corpus side never
    shuffles (assignment is a narrow pass; the tiny probe table
    broadcasts)."""
    from pyspark.sql.window import Window

    cents, vecs = _kmeans_train(spark, sf, KMEANS_ITERS)
    assigned = _assign_df(
        _vecs_with_norm(_embs(spark, sf)).select("vec_id", "v", "norm"), cents
    )
    q = assigned.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    probe_cols = []
    for ci, c in enumerate(cents):
        carr = F.array(*[F.lit(x) for x in c])
        c2 = sum(x * x for x in c)
        # identical-expression rule (see _ivf_assign_df): dot(qv,qv), not
        # qnorm², so probe ranking matches the oracle bit-for-bit
        d2 = (
            _dot(F.col("qv"), F.col("qv"))
            - 2.0 * _dot(F.col("qv"), carr)
            + F.lit(c2)
        )
        probe_cols.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cell")))
    probes = q.select(
        "q_id", "qv", "qnorm",
        F.explode(
            F.slice(F.array_sort(F.array(*probe_cols)), 1, IVF_NPROBE)
        ).alias("p"),
    ).select("q_id", "qv", "qnorm", F.col("p.cell").alias("cell"))
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qnorm") * F.col("norm"))
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos_raw"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", F.round("cos_raw", 6).alias("cosine"))
    )


def ann_kmeans_topk_sql() -> str:
    """Oracle: the unrolled Lloyd CTEs (identical decimal arithmetic) +
    the probe/search CTEs against the trained cents{K} — certifying
    training AND search together under the driver's value-hash gate."""
    it = KMEANS_ITERS
    return f"""
      WITH {_SQL_VECS}, {_sql_kmeans_cte(it)},
      q AS (SELECT vec_id AS q_id, v AS qv, norm AS qnorm FROM vecs
            WHERE vec_id < {ANN_N_QUERIES}),
      probes AS (
        SELECT q_id, qv, qnorm, cell FROM (
          SELECT q.q_id, q.qv, q.qnorm, cents{it}.cell,
                 row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.qv, q.qv)
                            - 2 * list_dot_product(q.qv, cents{it}.c)
                            + list_dot_product(cents{it}.c, cents{it}.c),
                            cents{it}.cell) AS rk
          FROM q CROSS JOIN cents{it}) WHERE rk <= {IVF_NPROBE}),
      assigned AS (
        SELECT a.vec_id, a.v, vecs.norm, a.cell
        FROM a{it} a JOIN vecs ON vecs.vec_id = a.vec_id),
      scored AS (
        SELECT p.q_id, a.vec_id,
               list_dot_product(p.qv, a.v) / (p.qnorm * a.norm) AS cos_raw
        FROM assigned a JOIN probes p ON a.cell = p.cell
        WHERE a.vec_id != p.q_id),
      ranked AS (
        SELECT q_id, vec_id, cos_raw,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_raw DESC, vec_id) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= {ANN_K}
    """


# ---------------- product quantization (PQ) — ANN compression tier --------
#
# Jégou et al. 2011: split each vector into PQ_M subspaces, quantize each
# sub-vector to one of PQ_K per-subspace codewords, store only the M small
# codes (here 4 codes for a 64-dim double vector — 128x compression), and
# answer queries with asymmetric distance computation (ADC): the query
# stays full-precision, each database vector's distance is the sum of its
# codewords' per-subspace distances. This is the tier after IVF in every
# production ANN stack (IVF prunes the corpus, PQ shrinks what remains in
# memory); the two compose as IVF-PQ. Codebooks here are seeded literals
# (same stand-in policy as _centroids); pq_train() learns them with the
# identical decimal-exact Lloyd machinery per subspace.

PQ_M = 4                      # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M   # dims per subspace
PQ_K = 8                      # codewords per subspace → 3-bit codes


def _pq_codebooks(
    m: int = PQ_M, k: int = PQ_K, subdim: int = PQ_SUBDIM
) -> list[list[list[float]]]:
    """Seeded per-subspace codebooks (m × k × subdim), rounded to 3dp so
    identical literals embed in Spark and the oracle (same policy as
    _centroids)."""
    rng = np.random.RandomState(11)
    return [
        [[round(float(x), 3) for x in row]
         for row in rng.standard_normal((k, subdim)) * 0.1]
        for _ in range(m)
    ]


def _pq_sub(col: Column, mi: int, subdim: int = PQ_SUBDIM) -> Column:
    return F.slice(col, mi * subdim + 1, subdim)


def pq_encode(
    vecs: DataFrame,
    books: list[list[list[float]]] | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, v) → (vec_id, c0..c{M-1}): per-subspace argmin-L2 code
    (tie-break code asc — same rule as _assign_df). One narrow codegen
    pass, no shuffle: at 10^9 vectors this is the compression map a PQ
    index persists instead of the raw vectors. `keep` names extra input
    columns to carry through (e.g. the IVF cell for the IVF-PQ compose)."""
    books = books if books is not None else _pq_codebooks()
    out = [F.col("vec_id"), *[F.col(k) for k in keep]]
    for mi, book in enumerate(books):
        sub = _pq_sub(F.col("v"), mi, len(book[0]))
        cands = []
        for j, cw in enumerate(book):
            carr = F.array(*[F.lit(x) for x in cw])
            c2 = sum(x * x for x in cw)
            d2 = _dot(sub, sub) - 2.0 * _dot(sub, carr) + F.lit(c2)
            cands.append(F.struct(d2.alias("d2"), F.lit(j).alias("code")))
        out.append(F.array_min(F.array(*cands)).getField("code").alias(f"c{mi}"))
    return vecs.select(*out)


def pq_train(
    vecs: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = KMEANS_ITERS,
) -> list[list[list[float]]]:
    """Learn the per-subspace codebooks with the SAME decimal-exact Lloyd
    steps as _kmeans_train (assignment + decimal(38,10) means as DataFrame
    jobs; only k×subdim floats cross to the driver per iteration per
    subspace). Deterministic: seeded init + exact means + code-asc
    tie-break ⇒ identical books at any partitioning."""
    subdim = EMB_DIM // m
    books = []
    seeds = _pq_codebooks(m, k, subdim)
    for mi in range(m):
        sub = vecs.select("vec_id", _pq_sub(F.col("v"), mi, subdim).alias("v"))
        cur = seeds[mi]
        for _ in range(iters):
            means = _means_df(_assign_df(sub, cur)).collect()
            by_cell: dict[int, dict[int, float]] = {}
            for r in means:
                by_cell.setdefault(r["cell"], {})[r["pos"]] = r["mv"]
            cur = [
                [by_cell[ci][p + 1] for p in range(len(cur[ci]))]
                if ci in by_cell else cur[ci]
                for ci in range(len(cur))
            ]
        books.append(cur)
    return books


def ann_pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    """PQ encode of the embedding table under the seeded codebooks — the
    compressed representation a PQ index stores (4 small ints per 64-dim
    vector)."""
    vecs = _vecs_with_norm(_embs(spark, sf)).select("vec_id", "v")
    return pq_encode(vecs)


def _pq_codes_sql_ctes(src: str = "vecs") -> str:
    rows = ", ".join(
        f"({mi}, {j}, {cw!r}::DOUBLE[])"
        for mi, book in enumerate(_pq_codebooks())
        for j, cw in enumerate(book)
    )
    pivots = ", ".join(
        f"MAX(CASE WHEN m = {mi} THEN code END) AS c{mi}"
        for mi in range(PQ_M)
    )
    return f"""books(m, j, cw) AS (VALUES {rows}),
      pq_subv AS (
        SELECT vec_id, m,
               list_slice(v, m * {PQ_SUBDIM} + 1,
                          m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS s
        FROM {src}, range(0, {PQ_M}) t(m)),
      pq_assign AS (
        SELECT vec_id, m, code FROM (
          SELECT sv.vec_id, sv.m, b.j AS code,
                 row_number() OVER (
                   PARTITION BY sv.vec_id, sv.m
                   ORDER BY list_dot_product(sv.s, sv.s)
                            - 2 * list_dot_product(sv.s, b.cw)
                            + list_dot_product(b.cw, b.cw), b.j) AS rk
          FROM pq_subv sv JOIN books b ON b.m = sv.m) WHERE rk = 1),
      codes AS (SELECT vec_id, {pivots} FROM pq_assign GROUP BY vec_id)"""


def ann_pq_codes_sql() -> str:
    return (
        f"WITH {_SQL_VECS}, {_pq_codes_sql_ctes()}\n"
        f"      SELECT vec_id, c0, c1, c2, c3 FROM codes"
    )


def _pq_lut_cols(books: list[list[list[float]]], vec: Column) -> list[Column]:
    """Per-query ADC lookup tables (Jégou et al. 2011 §V): lut{m}[j] =
    ||vec_m − codeword[m][j]||², computed ONCE per query row (m×k small
    dots on the tiny broadcast side), so the corpus-side scan does only
    M array lookups + M−1 adds per candidate — never a per-pair dot
    product. Each entry is the SAME fixed-order expression the DuckDB
    oracle inlines per pair, so factoring the term through a LUT is
    bit-transparent (identical IEEE ops on identical inputs)."""
    luts = []
    for mi, book in enumerate(books):
        sub = _pq_sub(vec, mi, len(book[0]))
        entries = []
        for cw in book:
            carr = F.array(*[F.lit(x) for x in cw])
            entries.append(
                _dot(sub, sub)
                - 2.0 * _dot(sub, carr)
                + F.lit(sum(x * x for x in cw))
            )
        luts.append(F.array(*entries).alias(f"lut{mi}"))
    return luts


def _pq_adc_from_lut(m: int) -> Column:
    """ADC distance from the precomputed LUTs: Σ_m lut{m}[c{m}], written
    as an explicit fixed-order sum (identical-expression rule — a
    commutative re-association would flip near-tie ranks between
    engines)."""
    out = F.element_at(F.col("lut0"), F.col("c0") + 1)
    for mi in range(1, m):
        out = out + F.element_at(F.col(f"lut{mi}"), F.col(f"c{mi}") + 1)
    return out


def _residual_col(cents: list[list[float]], vcol: str = "v") -> Column:
    """v − centroid[cell]: the residual a real IVF-PQ index quantizes
    (Jégou et al. §IV). PQ on RAW vectors wastes its entire code budget
    re-describing which cluster a vector sits in — information the IVF
    cell already carries — so intra-cell neighbors collapse onto one code
    tuple and ADC cannot rank them; encoding the residual spends the same
    bits on exactly the within-cell detail ADC needs."""
    cents_lit = F.array(*[
        F.array(*[F.lit(x) for x in c]) for c in cents
    ])
    return F.zip_with(
        F.col(vcol),
        F.element_at(cents_lit, F.col("cell") + 1),
        lambda x, y: x - y,
    )


def _pq_adc_sql(books: list[list[list[float]]], qcol: str = "q.qv") -> str:
    """SQL mirror of the ADC distance over `qcol` (the full-precision
    query or its cell residual) and `x.c{m}` — the same fixed-order term
    sum with literal codebook/Σsq arrays indexed by code."""
    terms = []
    for mi, book in enumerate(books):
        cw_lit = (
            "[" + ", ".join(
                "[" + ", ".join(repr(x) for x in cw) + "]" for cw in book
            ) + "]"
        )
        sq_lit = (
            "[" + ", ".join(repr(sum(x * x for x in cw)) for cw in book) + "]"
        )
        lo = mi * PQ_SUBDIM + 1
        hi = mi * PQ_SUBDIM + PQ_SUBDIM
        sub = f"list_slice({qcol}, {lo}, {hi})"
        terms.append(
            f"(list_dot_product({sub}, {sub})"
            f" - 2 * list_dot_product({sub}, ({cw_lit})[x.c{mi} + 1])"
            f" + ({sq_lit})[x.c{mi} + 1])"
        )
    return "\n               + ".join(terms)


def ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ADC top-k search: full-precision queries against the PQ-compressed
    corpus (exhaustive code scan — the IVF-PQ compose below prunes it).
    The corpus side carries ONLY the 4 codes — the scan a real PQ index
    does over its in-memory code table; queries broadcast."""
    from pyspark.sql.window import Window

    books = _pq_codebooks()
    vecs = _vecs_with_norm(_embs(spark, sf)).select("vec_id", "v")
    codes = pq_encode(vecs, books)
    q = vecs.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        *_pq_lut_cols(books, F.col("v")),
    )
    scored = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id",
                _pq_adc_from_lut(len(books)).alias("d2_raw"))
    )
    w = Window.partitionBy("q_id").orderBy("d2_raw", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", F.round("d2_raw", 6).alias("d2"))
    )


def ann_pq_topk_sql() -> str:
    return f"""
      WITH {_SQL_VECS}, {_pq_codes_sql_ctes()},
      q AS (SELECT vec_id AS q_id, v AS qv FROM vecs
            WHERE vec_id < {ANN_N_QUERIES}),
      scored AS (
        SELECT q.q_id, x.vec_id,
               {_pq_adc_sql(_pq_codebooks())} AS d2_raw
        FROM codes x CROSS JOIN q
        WHERE x.vec_id != q.q_id),
      ranked AS (
        SELECT q_id, vec_id, d2_raw,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY d2_raw, vec_id) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, round(d2_raw, 6) AS d2
      FROM ranked WHERE rank <= {ANN_K}
    """


def ann_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ — the production composition (Jégou et al. 2011 §IV): the
    IVF coarse quantizer prunes the corpus to IVF_NPROBE cells per query,
    PQ codes of the cell RESIDUALS (v − centroid, see _residual_col)
    stand in for the pruned vectors, and ADC ranks them via per-query
    lookup tables over the query's own residual w.r.t. each probed cell.
    Per query this touches nprobe/ncells of the corpus AND reads only
    M small codes per touched vector, with M lookups + M−1 adds per
    candidate — the memory/IO/compute shape that serves billion-vector
    ANN. Corpus side: one narrow assign+residual+encode pass, partitioned
    by cell; the probe-LUT table broadcasts; never a full-precision
    corpus scan."""
    from pyspark.sql.window import Window

    books = _pq_codebooks()
    cents = _centroids()
    assigned = _ivf_assign_df(spark, sf)
    codes = pq_encode(
        assigned.select("vec_id", "cell", _residual_col(cents).alias("v")),
        books,
        keep=("cell",),
    )
    q = assigned.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    probe_cols = []
    for ci, c in enumerate(cents):
        carr = F.array(*[F.lit(x) for x in c])
        c2 = sum(x * x for x in c)
        d2 = (
            _dot(F.col("qv"), F.col("qv"))
            - 2.0 * _dot(F.col("qv"), carr)
            + F.lit(c2)
        )
        probe_cols.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cell")))
    probes = q.select(
        "q_id", "qv",
        F.explode(
            F.slice(F.array_sort(F.array(*probe_cols)), 1, IVF_NPROBE)
        ).alias("p"),
    ).select("q_id", "qv", F.col("p.cell").alias("cell"))
    luts = probes.select(
        "q_id", "cell",
        *_pq_lut_cols(books, _residual_col(cents, vcol="qv")),
    )
    scored = (
        codes.join(F.broadcast(luts), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id",
                _pq_adc_from_lut(len(books)).alias("d2_raw"))
    )
    w = Window.partitionBy("q_id").orderBy("d2_raw", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", F.round("d2_raw", 6).alias("d2"))
    )


def ann_ivfpq_topk_sql() -> str:
    code_cols = ", ".join(f"c.c{mi}" for mi in range(PQ_M))
    return f"""
      WITH {_SQL_VECS}, {_sql_ivf_assign("ivf")},
      rvecs AS (
        SELECT i.vec_id, i.cell,
               list_transform(range(1, {EMB_DIM} + 1),
                              j -> i.v[j] - c.c[j]) AS v
        FROM ivf i JOIN cents c ON c.cell = i.cell),
      {_pq_codes_sql_ctes(src="rvecs")},
      coded AS (
        SELECT c.vec_id, {code_cols}, r.cell
        FROM codes c JOIN rvecs r ON r.vec_id = c.vec_id),
      q AS (SELECT vec_id AS q_id, v AS qv FROM vecs
            WHERE vec_id < {ANN_N_QUERIES}),
      probes AS (
        SELECT q_id, qv, cell FROM (
          SELECT q.q_id, q.qv, cents.cell,
                 row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.qv, q.qv)
                            - 2 * list_dot_product(q.qv, cents.c)
                            + list_dot_product(cents.c, cents.c),
                            cents.cell) AS rk
          FROM q CROSS JOIN cents) WHERE rk <= {IVF_NPROBE}),
      qres AS (
        SELECT p.q_id, p.cell,
               list_transform(range(1, {EMB_DIM} + 1),
                              j -> p.qv[j] - c.c[j]) AS qr
        FROM probes p JOIN cents c ON c.cell = p.cell),
      scored AS (
        SELECT q.q_id, x.vec_id,
               {_pq_adc_sql(_pq_codebooks(), qcol="q.qr")} AS d2_raw
        FROM coded x JOIN qres q ON x.cell = q.cell
        WHERE x.vec_id != q.q_id),
      ranked AS (
        SELECT q_id, vec_id, d2_raw,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY d2_raw, vec_id) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, round(d2_raw, 6) AS d2
      FROM ranked WHERE rank <= {ANN_K}
    """


SEMDEDUP_TAU = 0.98
SEMDEDUP_PLANT_N = 25
SEMDEDUP_PLANT_EPS = 0.003
# Planted-duplicate ids must NEVER collide with a real vec_id: a collision
# makes the drop window conflate two different vectors (r3 advice — at sf0.1
# real vec_ids reach 1999, so the old offset of 1000 aliased ids 1000-1024).
# 1e6 is far above any fixture scale; tests/test_datapipe_guard.py asserts
# max(vec_id) < OFFSET at every shipped SF so a bigger fixture can't silently
# reintroduce the alias.
SEMDEDUP_PLANT_OFFSET = 1_000_000


def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup: cluster the embedding
    space with the TRAINED k-means centroids (A4'), search for
    near-duplicate pairs only WITHIN each cell, and drop every vector that
    has a same-cell neighbor with a smaller id and cosine ≥ τ (the greedy
    keep-lowest-id representative — deterministic, no sampled ordering).
    The cell equi-join replaces the n² pair space with Σ|cell|²: at 10^9
    vectors the per-cell blocks are the only pair space ever materialized
    — the embedding-space analogue of the LSH-bucket dedup's scale shape,
    and the reason SemDeDup is feasible at training-corpus scale at all.

    Near-dups are planted deterministically in-query (copies of vec_id <
    SEMDEDUP_PLANT_N shifted by +EPS on every component → cosine ≈ 0.9995
    to the original) so the drop set is non-vacuous under the hash gate;
    random 64-dim vectors never approach τ = 0.98 naturally. The threshold
    compares round(cos, 6) — the 6dp-rounded value is the cross-engine-
    stable comparison key (raw low-order bits are not), same rule as every
    cosine key in this module. Returns one row per DROPPED vector:
    (vec_id, cell, rep_id = the smallest qualifying keeper, cosine)."""
    from pyspark.sql.window import Window

    cents, vecs = _kmeans_train(spark, sf, KMEANS_ITERS)
    planted = vecs.filter(F.col("vec_id") < SEMDEDUP_PLANT_N).select(
        (F.col("vec_id") + SEMDEDUP_PLANT_OFFSET).alias("vec_id"),
        F.transform("v", lambda x: x + F.lit(SEMDEDUP_PLANT_EPS)).alias("v"),
    )
    aug = vecs.select("vec_id", "v").unionByName(planted).withColumn(
        "norm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    assigned = _assign_df(aug, cents)
    a, b = assigned.alias("a"), assigned.alias("b")
    cos6 = F.round(
        _dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.norm") * F.col("b.norm")),
        6,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.cell").alias("cell"),
            F.col("a.vec_id").alias("rep_id"),
            cos6.alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
    )
    w = Window.partitionBy("vec_id").orderBy("rep_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell", "rep_id", "cosine")
    )


def dedup_semantic_sql() -> str:
    """Oracle: the unrolled Lloyd CTEs (identical decimal arithmetic) +
    augmented-set assignment under the trained cents + the within-cell
    pair join — training, cell blocking, and the drop decision all under
    the driver's value-hash gate."""
    it = KMEANS_ITERS
    n, eps, off, tau = (SEMDEDUP_PLANT_N, SEMDEDUP_PLANT_EPS,
                        SEMDEDUP_PLANT_OFFSET, SEMDEDUP_TAU)
    return f"""
      WITH {_SQL_VECS}, {_sql_kmeans_cte(it)},
      aug AS (
        SELECT vec_id, v FROM vecs
        UNION ALL
        SELECT vec_id + {off}, list_transform(v, x -> x + {eps})
        FROM vecs WHERE vec_id < {n}),
      augn AS (
        SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM aug),
      asgn AS (
        SELECT vec_id, v, norm, cell FROM (
          SELECT augn.vec_id, augn.v, augn.norm, cents{it}.cell,
                 row_number() OVER (
                   PARTITION BY augn.vec_id
                   ORDER BY list_dot_product(augn.v, augn.v)
                            - 2 * list_dot_product(augn.v, cents{it}.c)
                            + list_dot_product(cents{it}.c, cents{it}.c),
                            cents{it}.cell) AS rk
          FROM augn CROSS JOIN cents{it}) WHERE rk = 1),
      hits AS (
        SELECT b.vec_id AS vec_id, b.cell AS cell, a.vec_id AS rep_id,
               round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)
                 AS cosine
        FROM asgn a JOIN asgn b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)
              >= {tau})
      SELECT vec_id, cell, rep_id, cosine FROM (
        SELECT vec_id, cell, rep_id, cosine,
               row_number() OVER (PARTITION BY vec_id ORDER BY rep_id) AS rk
        FROM hits) WHERE rk = 1
    """


# ================================================================ text

def txt_langid(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram-free language ID heuristic: stopword hit counts per language,
    deterministic argmax (priority order breaks ties), 'und' when no list
    matches. Pure built-in column ops — stays in whole-stage codegen."""
    def _sw_hits(sw: list[str]) -> Column:
        arr = ", ".join(f"'{x}'" for x in sw)
        return F.expr(
            "size(filter(split(text, ' '), "
            f"t -> array_contains(array({arr}), t)))"
        )

    scores = {lang: _sw_hits(sw) for lang, sw in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        pred = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return _docs(spark, sf).select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        *[scores[lg].alias(f"score_{lg}") for lg in LANG_PRIORITY],
    )


def txt_langid_sql() -> str:
    score = {
        lang: (
            "len(list_filter(string_split(text, ' '), "
            f"t -> list_contains({sw!r}, t)))"
        )
        for lang, sw in STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(score[lg] for lg in LANG_PRIORITY) + ")"
    cases = " ".join(
        f"WHEN {score[lg]} = {best} AND {best} > 0 THEN '{lg}'"
        for lg in LANG_PRIORITY
    )
    cols = ", ".join(f"{score[lg]} AS score_{lg}" for lg in LANG_PRIORITY)
    return f"""
      SELECT doc_id, lang, CASE {cases} ELSE 'und' END AS pred_lang, {cols}
      FROM documents
    """


def txt_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: length / alpha-ratio / stopword-ratio features and
    a composite score — the standard pretraining-corpus filter signals."""
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    n_alpha = F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)"))
    arr = ", ".join(f"'{x}'" for x in STOPWORDS["en"])
    n_stop = F.expr(
        f"size(filter(split(text, ' '), t -> array_contains(array({arr}), t)))"
    )
    avg_tok_len = F.round(
        (F.length("text") - n_toks + 1) / F.greatest(n_toks, F.lit(1)), 6
    )
    stop_ratio_raw = n_stop / F.greatest(n_toks, F.lit(1))
    stop_ratio = F.round(stop_ratio_raw, 6)
    score = F.round(
        F.least(n_toks / F.lit(100.0), F.lit(1.0)) * 0.5
        + stop_ratio_raw * 0.5,
        6,
    )
    return _docs(spark, sf).select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        n_toks.alias("n_tokens"),
        n_alpha.alias("n_alpha_runs"),
        avg_tok_len.alias("avg_tok_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def txt_quality_sql() -> str:
    sw = STOPWORDS["en"]
    return f"""
      SELECT doc_id,
        length(text) AS n_chars_m,
        len(string_split(text, ' ')) AS n_tokens,
        len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
        round((length(text) - len(string_split(text, ' ')) + 1)
              / greatest(len(string_split(text, ' ')), 1), 6) AS avg_tok_len,
        round(len(list_filter(string_split(text, ' '),
                              t -> list_contains({sw!r}, t)))
              / greatest(len(string_split(text, ' ')), 1), 6) AS stopword_ratio,
        round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
              + len(list_filter(string_split(text, ' '),
                                t -> list_contains({sw!r}, t)))
                / greatest(len(string_split(text, ' ')), 1) * 0.5, 6)
          AS quality_score
      FROM documents
    """


def txt_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    ([a-z]+ | digit runs | other symbols) — the usual pre-tokenizer cost
    model for training-data budgeting."""
    return _docs(spark, sf).select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("bpe_ish_tokens"),
        F.round(
            F.length("text")
            / F.greatest(
                F.size(
                    F.expr(
                        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"
                    )
                ),
                F.lit(1),
            ),
            6,
        ).alias("chars_per_token"),
    )


def txt_tokens_sql() -> str:
    return """
      SELECT doc_id,
        len(string_split(text, ' ')) AS ws_tokens,
        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
          AS bpe_ish_tokens,
        round(length(text)
              / greatest(len(regexp_extract_all(
                    text, '[a-z]+|[0-9]+|[^a-z0-9 ]')), 1), 6)
          AS chars_per_token
      FROM documents
    """


def txt_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprinting: exact content hash + an order-insensitive
    bag-of-words fingerprint (md5 of the sorted distinct token list) that
    survives token reshuffling — cheap near-dup prefilter."""
    toks = F.split(F.col("text"), " ")
    bow = _md5s(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return _docs(spark, sf).select(
        "doc_id",
        _md5s(F.col("text")).alias("content_fp"),
        bow.alias("bow_fp"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def txt_fingerprint_sql() -> str:
    return """
      SELECT doc_id,
        md5(text) AS content_fp,
        md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                            ' ')) AS bow_fp,
        len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
      FROM documents
    """


WINNOW_K = 4   # token k-gram size
WINNOW_W = 4   # winnowing window (guarantee: any match >= w+k-1 tokens shares a fingerprint)


def _winnow_fps(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, fps sorted-distinct array of winnowing
    fingerprints). Shared by txt_winnow (per-doc digest) and
    dedup_winnow_pairs (the overlap join)."""
    grams = (
        "transform(sequence(0, size(w) - {k}), i -> "
        "md5(concat_ws(' ', slice(w, i + 1, {k}))))"
    ).format(k=WINNOW_K)
    minima = (
        f"transform(sequence(0, size(h) - {WINNOW_W}), "
        f"i -> array_min(slice(h, i + 1, {WINNOW_W})))"
    )
    return (
        docs
        .select("doc_id", F.split("text", " ").alias("w"))
        .withColumn(
            "h",
            F.when(F.size("w") >= WINNOW_K, F.expr(grams))
            .otherwise(F.array().cast("array<string>")),
        )
        .select(
            "doc_id",
            F.when(
                F.size("h") >= WINNOW_W,
                F.expr(f"array_sort(array_distinct({minima}))"),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("fps"),
        )
    )


def txt_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash token k-grams, keep the minimum hash of every
    w-window — any shared run of >= w+k-1 tokens between two documents is
    guaranteed to share a fingerprint, which makes this the standard
    partial-overlap/near-dup prefilter (robust where whole-doc MinHash is
    not: plagiarized paragraphs inside otherwise-different pages). Pure
    higher-order array functions — whole-stage codegen, zero Python, zero
    shuffle; at 100 TB this is a narrow map over the corpus."""
    return _winnow_fps(_docs(spark, sf)).select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.md5(F.array_join("fps", "|").cast("binary")).alias("fp_digest"),
    )


def txt_winnow_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    return f"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      hashed AS (
        SELECT doc_id,
               CASE WHEN len(w) >= {k} THEN
                 list_transform(range(1, len(w) - {k} + 2),
                                i -> md5(array_to_string(w[i:i+{k}-1], ' ')))
               ELSE [] END AS h
        FROM toks),
      winnowed AS (
        SELECT doc_id,
               CASE WHEN len(h) >= {w} THEN
                 list_sort(list_distinct(
                   list_transform(range(1, len(h) - {w} + 2),
                                  i -> list_min(h[i:i+{w}-1]))))
               ELSE [] END AS fps
        FROM hashed)
      SELECT doc_id, len(fps) AS n_fingerprints,
             md5(array_to_string(fps, '|')) AS fp_digest
      FROM winnowed
    """


# Partial-overlap planting for dedup_winnow_pairs: docs with
# doc_id % PLANT_MOD == 1 get the same 12-token paragraph appended, so
# winnowing's guarantee (any shared run of >= w+k-1 = 7 tokens shares a
# fingerprint) makes them provable candidate pairs on the word-salad corpus.
WINNOW_PLANT_MOD = 17
_WINNOW_PLANT = (
    "terms of service all rights reserved by the site operator "
    "unauthorized copying prohibited"
)
MAX_WINNOW_FP_DF = 100  # boilerplate-fingerprint cap (same rationale as MAX_SHINGLE_DF)


def dedup_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Partial-overlap candidate pairs via shared winnowing fingerprints —
    the join that makes MOSS fingerprints a dedup operator: documents
    sharing any >= w+k-1-token run meet on a fingerprint key (inverted
    index), never all-pairs. Overlap is scored by containment
    n_shared / min(|fps_a|, |fps_b|) (the near-dup-of-a-fragment metric;
    Jaccard under-counts when one doc is much longer).

    Scale posture: same shape as the n-gram Jaccard join — distinct
    (doc_id, fp) postings, boilerplate fingerprints above a df cap removed
    by a map-side-combined groupBy count + broadcast anti-join (never a
    window), then a fp equi-join with doc_id< ordering; Σ postings² is
    bounded by the cap. Top-50 pairs via TakeOrderedAndProject.

    The fps array MUST be materialized (persist) before the explode:
    Generate's codegen inlines the generator child, so exploding a
    computed array re-evaluates the whole HOF chain once per EMITTED
    element — an O(n) expression emitted n times is O(n²) per doc
    (measured 19.4s vs 0.9s for the explode alone at sf0.01; a rand()
    barrier does not help, only a materialization boundary does). The
    postings also feed four consumers (df-cap count, anti-join, per-doc
    sizes, both sides of the pair join), which the same persist serves.
    At 100 TB the equivalent is checkpointing the postings table to
    storage before the self-join — standard for inverted-index dedup."""
    planted = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % WINNOW_PLANT_MOD == 1,
            F.concat("text", F.lit(" " + _WINNOW_PLANT)),
        ).otherwise(F.col("text")).alias("text"),
    )
    posts = (
        _winnow_fps(planted)
        .persist()  # materialization barrier BEFORE explode — see docstring
        .select("doc_id", F.explode("fps").alias("fp"))
        .dropDuplicates(["doc_id", "fp"])
        .persist()  # postings feed 4 consumers below
    )
    hot = (
        posts.groupBy("fp").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > MAX_WINNOW_FP_DF)
        .select("fp")
    )
    posts = posts.join(F.broadcast(hot), "fp", "left_anti")
    sizes = posts.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = posts.select(F.col("doc_id").alias("a_id"), "fp")
    b = posts.select(F.col("doc_id").alias("b_id"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs
        .join(sizes.withColumnRenamed("doc_id", "a_id")
              .withColumnRenamed("n_fp", "n_fp_a"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id")
              .withColumnRenamed("n_fp", "n_fp_b"), "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.greatest(F.least("n_fp_a", "n_fp_b"), F.lit(1)),
                6,
            ).alias("containment"),
        )
        .orderBy(F.col("n_shared").desc(), "a_id", "b_id")
        .limit(50)
    )


def dedup_winnow_pairs_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    return f"""
      WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % {WINNOW_PLANT_MOD} = 1
                    THEN text || ' {_WINNOW_PLANT}' ELSE text END AS t
        FROM documents),
      toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM planted),
      hashed AS (
        SELECT doc_id,
               CASE WHEN len(w) >= {k} THEN
                 list_transform(range(1, len(w) - {k} + 2),
                                i -> md5(array_to_string(w[i:i+{k}-1], ' ')))
               ELSE [] END AS h
        FROM toks),
      winnowed AS (
        SELECT doc_id,
               CASE WHEN len(h) >= {w} THEN
                 list_sort(list_distinct(
                   list_transform(range(1, len(h) - {w} + 2),
                                  i -> list_min(h[i:i+{w}-1]))))
               ELSE [] END AS fps
        FROM hashed),
      posts0 AS (
        SELECT DISTINCT doc_id, unnest(fps) AS fp FROM winnowed),
      hot AS (
        SELECT fp FROM posts0 GROUP BY fp
        HAVING count(*) > {MAX_WINNOW_FP_DF}),
      posts AS (
        SELECT p.doc_id, p.fp FROM posts0 p
        WHERE p.fp NOT IN (SELECT fp FROM hot)),
      sizes AS (SELECT doc_id, count(*) AS n_fp FROM posts GROUP BY 1),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        FROM posts a JOIN posts b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT p.a_id, p.b_id, p.n_shared,
             round(p.n_shared / greatest(least(sa.n_fp, sb.n_fp), 1), 6)
               AS containment
      FROM pairs p
      JOIN sizes sa ON p.a_id = sa.doc_id
      JOIN sizes sb ON p.b_id = sb.doc_id
      ORDER BY p.n_shared DESC, p.a_id, p.b_id LIMIT 50
    """


# --------------------------------------------------- substring-level dedup --

# Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better"): the third dedup tier after exact-doc and
# near-doc — find token runs >= SUBSTR_K that are duplicated ACROSS
# documents and strip every copy except the one in the earliest doc.
# Lee et al. build a monolithic suffix array; the distributed-equivalent
# decomposition used here is the k-gram cover: a duplicated run of length
# L >= k duplicates ALL of its (L - k + 1) k-grams, so marking every token
# covered by a cross-doc-duplicated k-gram and merging contiguous coverage
# reconstructs exactly the maximal duplicated runs >= k tokens — no suffix
# array, just one groupBy(min) + one equi-join + per-doc windows, every
# stage map-side combinable or partitioned by doc.
SUBSTR_K = 8


def substring_dedup(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, text) → one row per doc that LOSES at least one duplicated
    run: (doc_id, n_runs, toks_dropped, rs array<struct<s,e>>, w tokens,
    text_dedup). Runs are maximal contiguous stripped token spans
    [s, e] (0-based, inclusive); the doc with the smallest doc_id keeps
    its copy (the canonical Lee-et-al. keep-first policy).

    Scale posture: the k-gram postings are the same inverted-index shape
    as every other dedup op here — groupBy(gram → min doc_id) is map-side
    combinable, the mark join is a plain hash equi-join whose output is
    exactly |postings|, and run-merging is a per-doc window (partitioned
    on doc_id, never global). The gram array is persisted BEFORE the
    posexplode: Generate inlines its child, so exploding a computed
    array re-evaluates the whole HOF chain per emitted element — O(n²)
    per doc without the materialization barrier (measured on the
    winnowing op; same fix)."""
    from pyspark.sql.window import Window

    grams = (
        f"transform(sequence(0, size(w) - {k}), "
        f"i -> md5(concat_ws(' ', slice(w, i + 1, {k}))))"
    )
    g = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .withColumn(
            "gh",
            F.when(F.size("w") >= k, F.expr(grams))
            .otherwise(F.array().cast("array<string>")),
        )
        .persist()  # materialization barrier before explode — see docstring
    )
    posts = g.select("doc_id", F.posexplode("gh").alias("gpos", "gm"))
    keeper = posts.groupBy("gm").agg(F.min("doc_id").alias("keep_id"))
    dup = (
        posts.join(keeper, "gm")
        .filter(F.col("doc_id") > F.col("keep_id"))
        .select("doc_id", "gpos")
    )
    w1 = Window.partitionBy("doc_id").orderBy("gpos")
    runs = (
        dup.withColumn("prev", F.lag("gpos").over(w1))
        .withColumn(
            "new_run",
            F.when(
                F.col("prev").isNull() | (F.col("gpos") - F.col("prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(
                w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "run_id")
        .agg(
            F.min("gpos").cast("int").alias("s"),
            (F.max("gpos") + k - 1).cast("int").alias("e"),
        )
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_runs"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("toks_dropped"),
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("rs"),
    )
    return g.join(per_doc, "doc_id").withColumn(
        "text_dedup",
        F.expr(
            "array_join(filter(w, (x, i) -> "
            "!exists(rs, r -> i >= r.s AND i <= r.e)), ' ')"
        ),
    )


def dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key for exact substring dedup. The word-salad corpus has no
    natural >= SUBSTR_K-token cross-doc runs, so the query plants the same
    13-token boilerplate paragraph (the winnowing plant) on every doc_id %
    WINNOW_PLANT_MOD == 1 — the earliest such doc keeps it, every later
    one must emit exactly one stripped run covering the plant. Output one
    row per stripped doc: run count, tokens dropped, the run boundary
    string (certifies every start/end the merge produced), and
    md5(text_dedup) (certifies the stripped text byte-for-byte) — the
    whole detect→merge→strip chain under the value-hash gate."""
    planted = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % WINNOW_PLANT_MOD == 1,
            F.concat("text", F.lit(" " + _WINNOW_PLANT)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return (
        substring_dedup(planted, SUBSTR_K)
        .select(
            "doc_id",
            "n_runs",
            "toks_dropped",
            F.array_join(
                F.expr(
                    "transform(rs, r -> concat(cast(r.s as string), '-', "
                    "cast(r.e as string)))"
                ),
                ",",
            ).alias("runs_str"),
            F.md5(F.col("text_dedup").cast("binary")).alias("dedup_md5"),
        )
        .orderBy("doc_id")
    )


def dedup_substring_sql() -> str:
    k = SUBSTR_K
    return f"""
      WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % {WINNOW_PLANT_MOD} = 1
                    THEN text || ' {_WINNOW_PLANT}' ELSE text END AS t
        FROM documents),
      toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM planted),
      g AS (
        SELECT doc_id, w,
               CASE WHEN len(w) >= {k} THEN
                 list_transform(range(1, len(w) - {k} + 2),
                                i -> md5(array_to_string(w[i:i+{k}-1], ' ')))
               ELSE [] END AS gh
        FROM toks),
      posts AS (
        SELECT doc_id, u.gpos, u.gm FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(gh) + 1),
                        i -> {{'gpos': i - 1, 'gm': gh[i]}})) AS u
          FROM g)),
      keeper AS (SELECT gm, min(doc_id) AS keep_id FROM posts GROUP BY gm),
      dup AS (
        SELECT p.doc_id, p.gpos FROM posts p
        JOIN keeper kp ON p.gm = kp.gm WHERE p.doc_id > kp.keep_id),
      flagged AS (
        SELECT doc_id, gpos,
               CASE WHEN lag(gpos) OVER w IS NULL
                         OR gpos - lag(gpos) OVER w > {k}
                    THEN 1 ELSE 0 END AS new_run
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY gpos)),
      numbered AS (
        SELECT doc_id, gpos,
               sum(new_run) OVER (PARTITION BY doc_id ORDER BY gpos
                                  ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged),
      runs AS (
        SELECT doc_id, run_id, CAST(min(gpos) AS INT) AS s,
               CAST(max(gpos) + {k} - 1 AS INT) AS e
        FROM numbered GROUP BY doc_id, run_id),
      per_doc AS (
        SELECT doc_id, CAST(count(*) AS INT) AS n_runs,
               CAST(sum(e - s + 1) AS BIGINT) AS toks_dropped,
               list_sort(list({{'s': s, 'e': e}})) AS rs
        FROM runs GROUP BY doc_id),
      stripped AS (
        SELECT t.doc_id, p.n_runs, p.toks_dropped, p.rs,
               -- COALESCE: DuckDB's array_to_string([]) is NULL where
               -- Spark's array_join([]) is '' — a doc that is an exact
               -- duplicate of an earlier doc strips to the empty string
               COALESCE(array_to_string(
                 list_filter(t.w, (x, i) ->
                   len(list_filter(p.rs,
                       r -> i - 1 >= r.s AND i - 1 <= r.e)) = 0),
                 ' '), '') AS text_dedup
        FROM g t JOIN per_doc p ON t.doc_id = p.doc_id)
      SELECT doc_id, n_runs, toks_dropped,
             array_to_string(list_transform(rs,
               r -> CAST(r.s AS VARCHAR) || '-' || CAST(r.e AS VARCHAR)),
               ',') AS runs_str,
             md5(text_dedup) AS dedup_md5
      FROM stripped ORDER BY doc_id
    """


def txt_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 repetition
    filters, adapted to the word level): duplicate-token fraction and
    top-bigram fraction — the standard 'is this page degenerate/boilerplate'
    screens. Relational shape: explode + two-level groupBy, map-side
    combined; the per-doc reduce keys are (doc_id, bigram) so no reducer
    ever sees more than one document's postings."""
    toks = _docs(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    base = toks.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.expr(
            "transform(sequence(0, size(w) - 2), i -> "
            "concat(w[i], ' ', w[i+1]))"
        ).alias("bi"),
    )
    bi_counts = (
        base.select("doc_id", F.explode("bi").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    dup_ratio = F.round(
        (F.col("n_tokens") - F.col("n_distinct"))
        / F.greatest(F.col("n_tokens"), F.lit(1)),
        6,
    )
    top_bi = F.round(
        F.col("top_bigram_n") / F.greatest(F.col("n_bigrams"), F.lit(1)), 6
    )
    return (
        base.select("doc_id", "n_tokens", "n_distinct")
        .join(bi_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup_ratio.alias("dup_token_ratio"),
            F.coalesce(top_bi, F.lit(0.0)).alias("top_bigram_ratio"),
        )
    )


def txt_repetition_sql() -> str:
    return """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      base AS (
        SELECT doc_id, len(w) AS n_tokens,
               len(list_distinct(w)) AS n_distinct,
               list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i+1]) AS bi
        FROM toks),
      bic AS (
        SELECT doc_id, bg, count(*) AS c
        FROM (SELECT doc_id, unnest(bi) AS bg FROM base) GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
        FROM bic GROUP BY 1)
      SELECT b.doc_id, b.n_tokens,
             round((b.n_tokens - b.n_distinct)
                   / greatest(b.n_tokens, 1), 6) AS dup_token_ratio,
             coalesce(round(a.top_bigram_n
                            / greatest(a.n_bigrams, 1), 6), 0.0)
               AS top_bigram_ratio
      FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
    """


# PII-ish patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround.
_RE_EMAIL = "[a-z0-9.]+@[a-z0-9]+[.][a-z]+"
_RE_PHONE = "[0-9]{3}-[0-9]{4}"


def txt_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (the standard pre-training redaction pass): count and
    redact email/phone patterns. The driver corpus is clean word salad, so
    the query PLANTS deterministic PII in-query (doc_id % 5 == 0 gets an
    email + phone derived from the first token — same expression in the
    oracle), making the redaction measurably non-vacuous under the
    value-hash gate. Built-in regex fns only — codegen, no shuffle."""
    docs = _docs(spark, sf).select("doc_id", "text")
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.element_at(F.split("text", " "), 1),
            F.lit("@example.com call 555-0199"),
        ),
    ).otherwise(F.col("text"))
    with_pii = docs.select("doc_id", planted.alias("t"))
    n_email = F.size(F.expr(f"regexp_extract_all(t, '{_RE_EMAIL}', 0)"))
    n_phone = F.size(F.expr(f"regexp_extract_all(t, '{_RE_PHONE}', 0)"))
    clean = F.regexp_replace(
        F.regexp_replace("t", _RE_EMAIL, "<EMAIL>"),
        _RE_PHONE,
        "<PHONE>",
    )
    return with_pii.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.md5(clean.cast("binary")).alias("clean_digest"),
    )


def txt_redact_sql() -> str:
    return f"""
      WITH pii AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN
                 text || ' contact ' || string_split(text, ' ')[1]
                      || '@example.com call 555-0199'
               ELSE text END AS t
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(t, '{_RE_EMAIL}')) AS n_emails,
             len(regexp_extract_all(t, '{_RE_PHONE}')) AS n_phones,
             md5(regexp_replace(
                   regexp_replace(t, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_PHONE}', '<PHONE>', 'g')) AS clean_digest
      FROM pii
    """


# Decontamination: token k-gram size (production: 13-gram, the GPT-3/PaLM
# convention; 5 keeps fixture docs long enough to carry grams) and the
# deterministic in-query roles — doc_id % BENCH_MOD == 0 plays the "eval
# benchmark" set, and doc_id % LEAK_MOD == LEAK_REM train docs get the
# leak phrase appended (same expressions in the oracle), so the overlap
# join is measurably non-vacuous on the word-salad corpus.
DECONTAM_K = 5
DECONTAM_BENCH_MOD = 29
DECONTAM_LEAK_MOD = 7
DECONTAM_LEAK_REM = 3
_LEAK_PHRASE = "the quick brown fox jumps over the lazy dog"

TFIDF_TOP = 3     # top terms kept per document
VOCAB_TOP = 100   # corpus vocabulary rows kept


def _gram_expr(k: int) -> str:
    """SQL expr: token array column `w` → array of md5'd k-grams."""
    return (
        f"transform(sequence(0, size(w) - {k}), i -> "
        f"md5(concat_ws(' ', slice(w, i + 1, {k}))))"
    )


def txt_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination — the train/eval overlap check every
    serious pre-training pipeline runs: flag training documents sharing
    any token k-gram with the held-out benchmark set (GPT-3 appendix C /
    PaLM style, 13-grams in production).

    Scale posture: the benchmark side is tiny relative to a 100 TB corpus
    (eval suites are ~10^6 grams vs ~10^12 corpus grams), so its distinct
    gram set is BROADCAST and the corpus side is one narrow scan + explode
    + broadcast-hash semi-side join — no corpus shuffle at all; the only
    exchange is the per-doc hit count groupBy, map-side combined, keyed by
    doc_id (no skew: one doc's grams are bounded by its length)."""
    docs = _docs(spark, sf).select("doc_id", "text")
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    is_leaky = (F.col("doc_id") % DECONTAM_LEAK_MOD == DECONTAM_LEAK_REM) & ~is_bench
    planted = F.when(
        is_bench | is_leaky, F.concat("text", F.lit(" " + _LEAK_PHRASE))
    ).otherwise(F.col("text"))
    toks = docs.select(
        "doc_id", is_bench.alias("bench"), F.split(planted, " ").alias("w")
    )
    grams = toks.select(
        "doc_id",
        "bench",
        F.when(
            F.size("w") >= DECONTAM_K, F.expr(_gram_expr(DECONTAM_K))
        ).otherwise(F.array().cast("array<string>")).alias("g"),
    )
    per_doc = grams.select(
        "doc_id", "bench", F.explode("g").alias("g")
    ).dropDuplicates(["doc_id", "g"])
    bench_grams = per_doc.filter("bench").select("g").distinct()
    train = per_doc.filter(~F.col("bench"))
    hits = (
        train.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )


def txt_decontam_sql() -> str:
    k, bm, lm, lr = (
        DECONTAM_K, DECONTAM_BENCH_MOD, DECONTAM_LEAK_MOD, DECONTAM_LEAK_REM
    )
    return f"""
      WITH planted AS (
        SELECT doc_id, doc_id % {bm} = 0 AS bench,
               CASE WHEN doc_id % {bm} = 0
                      OR (doc_id % {lm} = {lr} AND doc_id % {bm} <> 0)
                    THEN text || ' {_LEAK_PHRASE}' ELSE text END AS t
        FROM documents),
      toks AS (SELECT doc_id, bench, string_split(t, ' ') AS w FROM planted),
      grams AS (
        SELECT DISTINCT doc_id, bench, g
        FROM (SELECT doc_id, bench,
                     unnest(CASE WHEN len(w) >= {k} THEN
                       list_transform(range(1, len(w) - {k} + 2),
                                      i -> md5(array_to_string(w[i:i+{k}-1], ' ')))
                     ELSE [] END) AS g
              FROM toks)),
      bench_grams AS (SELECT DISTINCT g FROM grams WHERE bench),
      train AS (SELECT doc_id, g FROM grams WHERE NOT bench),
      hits AS (
        SELECT t.doc_id, count(*) AS n_contaminated
        FROM train t JOIN bench_grams b ON t.g = b.g GROUP BY 1),
      totals AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1)
      SELECT t.doc_id, t.n_grams,
             coalesce(h.n_contaminated, 0) AS n_contaminated,
             coalesce(h.n_contaminated, 0) > 0 AS contaminated
      FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """


def txt_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document TF-IDF top terms (smooth idf: ln((N+1)/(df+1)) + 1) —
    the classic relevance/keyword-extraction scorer. Ranking is by the
    EXACT integer tuple (tf desc, df asc, term asc) so cross-engine float
    ulp drift in ln() can never flip the selected rows; the float score is
    display-only (round 6).

    Scale posture: tf is a (doc_id, term) groupBy (map-side combined,
    keys bounded per doc); df is a term groupBy over distinct (doc, term);
    the df side joins back BROADCAST when the vocabulary is small, and the
    corpus-size scalar N comes back to the driver as one bigint and
    re-enters the idf expression as a literal — a 1-row ride-along join
    constant-folds into the interpreted BroadcastNestedLoopJoin over the
    (doc, term) stream (plan-asserted BNLJ-free in tests/test_plans.py);
    no corpus-wide sort; the per-doc top-k is a row_number window
    partitioned by doc_id."""
    from pyspark.sql import Window

    toks = (
        _docs(spark, sf)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = (
        tf.groupBy("term").agg(F.count("*").alias("df"))
    )
    n_docs = int(_docs(spark, sf).count())
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    scored = (
        tf.join(df, "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
    )
    score = F.round(
        F.col("tf")
        * (F.log(F.lit(n_docs + 1) / (F.col("df") + 1)) + 1), 6
    )
    return scored.select(
        "doc_id", "term", "tf", "df", score.alias("tfidf"), "rn"
    )


def txt_tfidf_sql() -> str:
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC,
                                           tf.term ASC) AS rn
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
      SELECT doc_id, term, tf, df,
             round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1), 6) AS tfidf,
             rn
      FROM ranked WHERE rn <= {TFIDF_TOP}
    """


def txt_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary table: collection frequency + document frequency
    per term, top-{VOCAB_TOP} by cf — the tokenizer-training / stopword-
    derivation primitive. One explode + one groupBy (two partial aggs,
    map-side combined); the top-k is TakeOrderedAndProject, never a full
    sort shuffle — at 100 TB the reduce side only ever sees the per-
    partition top-k candidates."""
    toks = (
        _docs(spark, sf)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count("*").alias("cf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.col("cf").desc(), F.col("term").asc())
        .limit(VOCAB_TOP)
    )


def txt_vocab_sql() -> str:
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
      SELECT term, count(*) AS cf, count(DISTINCT doc_id) AS df
      FROM toks GROUP BY term
      ORDER BY cf DESC, term ASC LIMIT {VOCAB_TOP}
    """


# ------------------------------------------------------ collocation mining --

COLLOC_MIN_SUPPORT = 5
COLLOC_TOP = 50


def txt_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation / phrase mining — the AutoPhrase-lite tier of a
    training-data pipeline (multi-word terms worth treating as units in
    tokenizers, vocab, and entity dictionaries): corpus word bigrams
    scored by pointwise mutual information against their unigram
    marginals, min-support filtered, top-{COLLOC_TOP}. PMI is the same
    whole-bit integer log2 quantization as kg_edge_pmi / txt_lm_score:
    pmi_bits = bits(n_xy·N) − bits(n_x·n_y) — partition-order-proof,
    engine-identical — where N is the total bigram count (one bigint to
    the driver, injected as a literal per the BNLJ lesson).

    Scale shape: bigram and unigram counts are map-side-combinable
    groupBys over one tokenize pass; the marginal table joins back
    twice on its own key (hot words → AQE skew split); top-k is
    TakeOrderedAndProject. The deliberate asymmetry vs kg_edge_pmi:
    counts are OCCURRENCE counts (collocation strength), not document
    counts — a phrase used 50× in one doc is still a phrase."""
    d = _docs(spark, sf).select(F.split("text", " ").alias("w"))
    occ = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS w1,"
                " element_at(w, i + 1) AS w2)) ELSE array() END"
            )
        ).alias("o")
    ).select("o.w1", "o.w2").persist()
    # ^ cache is intentional and must outlive the returned lazy plan
    # (occ feeds both the bigram and the marginal scans); single-shot-
    # per-session — see minhash_pair_quality's persist lifetime note.
    bg = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    # marginals over bigram SLOTS (left and right occurrences), one
    # explode pass — the standard collocation marginal
    uni = (
        occ.select(F.explode(F.array("w1", "w2")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    n_total = int(occ.count())
    return (
        bg.filter(F.col("n_xy") >= COLLOC_MIN_SUPPORT)
        .join(uni.select(F.col("t").alias("w1"),
                         F.col("n_t").alias("n_x")), "w1")
        .join(uni.select(F.col("t").alias("w2"),
                         F.col("n_t").alias("n_y")), "w2")
        .select(
            "w1", "w2", "n_xy", "n_x", "n_y",
            F.expr(
                f"length(bin(n_xy * cast({n_total} as bigint)))"
                " - length(bin(n_x * n_y))"
            ).alias("pmi_bits"),
        )
        .orderBy(F.desc("pmi_bits"), F.desc("n_xy"), "w1", "w2")
        .limit(COLLOC_TOP)
    )


def txt_collocations_sql() -> str:
    return f"""
      WITH d AS (
        SELECT string_split(text, ' ') AS w FROM documents),
      occ AS MATERIALIZED (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM d, unnest(range(1, len(w))) AS t(i)),
      bg AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
        FROM occ GROUP BY w1, w2),
      uni AS MATERIALIZED (
        SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM (
          SELECT w1 AS t FROM occ UNION ALL SELECT w2 AS t FROM occ)
        GROUP BY t),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM occ)
      SELECT b.w1, b.w2, b.n_xy, x.n_t AS n_x, y.n_t AS n_y,
             CAST(length(bin(b.n_xy * n.n_total))
                  - length(bin(x.n_t * y.n_t)) AS BIGINT) AS pmi_bits
      FROM bg b
      JOIN uni x ON x.t = b.w1
      JOIN uni y ON y.t = b.w2
      CROSS JOIN n
      WHERE b.n_xy >= {COLLOC_MIN_SUPPORT}
      ORDER BY pmi_bits DESC, n_xy DESC, w1, w2 LIMIT {COLLOC_TOP}
    """


# ----------------------------------------------------- composite filter gate

# Thresholds chosen against the corpus distributions so EVERY rule fires
# on a real minority at the gate SFs (a gate that never fires certifies
# nothing): tokens p05≈16, stopword p25≈0.04, 'und' ≈9%, dup p90≈0.68,
# top-bigram p95≈0.087, logit p10≈−1800. All comparisons are against
# round(,6) doubles or exact integers — identical in both engines.
FILTER_MIN_TOKENS = 20
FILTER_MIN_STOPWORD = 0.02
FILTER_MAX_DUP = 0.65
FILTER_MAX_TOPBI = 0.08
FILTER_MIN_LOGIT = -1800

# rule bits, LSB first: the reason bitmask a curation run reports on
_FILTER_RULES = "too_short(1) low_stopword(2) not_en(4) repetitive(8) classifier(16)"


def txt_filter_gate(spark: SparkSession, sf: str) -> DataFrame:
    """The composite corpus-filter DECISION table — what a curation
    pipeline actually materializes: every certified screen (quality
    T2', language-ID T1', Gopher repetition T6', hashed-feature
    classifier T21') joined per doc and folded into one integer reason
    BITMASK ({rules}) with keep = (reasons == 0). The bitmask, not a
    boolean, because the first question after any filter run is 'what
    did we lose and WHY' — per-reason counts fall out of a groupBy.

    Composition, not reimplementation: the four inputs are the exact
    gate-certified operators, joined on doc_id (AQE picks broadcast
    while the per-doc signal tables fit; at 10^12 docs these are four
    co-partitionable hash joins on the same key — in production you'd
    compute the signals in one pass, which Catalyst already does here:
    common subexpressions share the scan). Thresholds fire on a real
    minority of the corpus at every gate SF, so each bit is live under
    the value hash.""".format(rules=_FILTER_RULES)
    q = txt_quality(spark, sf).select(
        "doc_id", "n_tokens", "stopword_ratio")
    l = txt_langid(spark, sf).select("doc_id", "pred_lang")
    r = txt_repetition(spark, sf).select(
        "doc_id", "dup_token_ratio", "top_bigram_ratio")
    c = txt_classify(spark, sf).select("doc_id", "logit")
    j = q.join(l, "doc_id").join(r, "doc_id").join(c, "doc_id")
    bit = lambda cond, b: F.when(cond, F.lit(b)).otherwise(F.lit(0))  # noqa: E731
    reasons = (
        bit(F.col("n_tokens") < FILTER_MIN_TOKENS, 1)
        + bit(F.col("stopword_ratio") < FILTER_MIN_STOPWORD, 2)
        + bit(F.col("pred_lang") != "en", 4)
        + bit(
            (F.col("dup_token_ratio") > FILTER_MAX_DUP)
            | (F.col("top_bigram_ratio") > FILTER_MAX_TOPBI), 8)
        + bit(F.col("logit") <= FILTER_MIN_LOGIT, 16)
    ).cast("bigint")
    return (
        j.select(
            "doc_id", "n_tokens", "pred_lang",
            reasons.alias("reasons"),
        )
        .select(
            "*", (F.col("reasons") == 0).cast("int").alias("keep")
        )
        .orderBy("doc_id")
    )


def txt_filter_gate_sql() -> str:
    return f"""
      WITH q AS ({txt_quality_sql()}),
      l AS ({txt_langid_sql()}),
      r AS ({txt_repetition_sql()}),
      c AS ({txt_classify_sql()}),
      j AS (
        SELECT q.doc_id, q.n_tokens, l.pred_lang,
          CAST(
            (CASE WHEN q.n_tokens < {FILTER_MIN_TOKENS} THEN 1 ELSE 0 END)
          + (CASE WHEN q.stopword_ratio < {FILTER_MIN_STOPWORD}
             THEN 2 ELSE 0 END)
          + (CASE WHEN l.pred_lang <> 'en' THEN 4 ELSE 0 END)
          + (CASE WHEN r.dup_token_ratio > {FILTER_MAX_DUP}
                  OR r.top_bigram_ratio > {FILTER_MAX_TOPBI}
             THEN 8 ELSE 0 END)
          + (CASE WHEN c.logit <= {FILTER_MIN_LOGIT} THEN 16 ELSE 0 END)
          AS BIGINT) AS reasons
        FROM q
        JOIN l ON l.doc_id = q.doc_id
        JOIN r ON r.doc_id = q.doc_id
        JOIN c ON c.doc_id = q.doc_id)
      SELECT doc_id, n_tokens, pred_lang, reasons,
             CAST(reasons = 0 AS INT) AS keep
      FROM j ORDER BY doc_id
    """


# ------------------------------------------------------------ BPE training --

# Distributed BPE merge training (Sennrich et al. 2016) — the tokenizer-
# training op txt_vocab stops short of: iteratively count adjacent symbol
# pairs over the corpus word-frequency table, pick the most frequent pair
# (deterministic tie-break: count DESC, then lexicographic), merge it
# everywhere, repeat. The gate key unrolls BPE_MERGES iterations; the
# production entry point bpe_train() takes any merge count.
#
# Cross-engine representation trick: each word's symbol sequence is a
# string "␣s1␣␣s2␣␣...␣␣sn␣" (tokens joined by DOUBLE spaces, single-space
# boundaries). Applying merge (a, b) is then a plain non-overlapping
# left-to-right replace of "␣a␣␣b␣" with "␣ab␣" — the shared separator
# spaces mean adjacent occurrences still match, so the result equals
# greedy left-to-right BPE merging exactly (verified vs a pure-Python
# reference in tests), and replace() has identical semantics in Spark and
# DuckDB — no fold/aggregate needed, which DuckDB lambdas cannot express.
BPE_MERGES = 3
BPE_EOW = "</w>"  # end-of-word marker, standard BPE


def _bpe_seq0(words: DataFrame) -> DataFrame:
    """(word, cnt) → (cnt, seq) in the double-space symbol encoding with
    each word split to characters + the end-of-word marker."""
    return words.select(
        "cnt",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.concat(F.split("word", ""), F.array(F.lit(BPE_EOW))), "  "
            ),
            F.lit(" "),
        ).alias("seq"),
    )


def _bpe_pair_counts(seqs: DataFrame) -> DataFrame:
    """(cnt, seq) → (lhs, rhs, pc): corpus-weighted adjacent-pair counts.
    One explode + one map-side-combinable groupBy — the whole per-
    iteration shuffle; at web scale the input is the DISTINCT-word table
    (vocabulary-sized, not corpus-sized), so each merge round is cheap."""
    # single-symbol sequences (a word fully merged, e.g. 'a'+'</w>' after
    # merge (a, </w>)) contribute no pairs — and MUST be filtered before
    # indexing: sequence(0, size-2) DESCENDS for size==1 ([0, -1]) and
    # tk[1] throws under ANSI mode
    toks = seqs.select(
        "cnt", F.split(F.trim("seq"), "  ").alias("tk")
    ).filter(F.size("tk") >= 2)
    pairs = toks.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(0, size(tk) - 2), "
                "i -> struct(tk[i] AS lhs, tk[i + 1] AS rhs))"
            )
        ).alias("p"),
    )
    return (
        pairs.select("cnt", "p.lhs", "p.rhs")
        .groupBy("lhs", "rhs")
        .agg(F.sum("cnt").cast("bigint").alias("pc"))
    )


def bpe_train(docs: DataFrame, n_merges: int) -> DataFrame:
    """Full distributed BPE merge training: returns the merge table
    (step, lhs, rhs, pair_count) for n_merges iterations. Each iteration
    is one pair-count groupBy; the single winning row comes back to the
    DRIVER (one tiny row per round — the k-means-Lloyd driver-in-the-loop
    shape, k×dim there, 1×3 here) and re-enters the plan as replace()
    LITERALS. Literals, not a 1-row ride-along join: a constant-key join
    constant-folds its condition away and Spark plans the INTERPRETED
    BroadcastNestedLoopJoin — measured 36µs/row on the join_bloom
    lifecycle, which over a vocabulary table every round is real money;
    the literal replace stays inside whole-stage codegen. Lineage grows
    one replace() per merge; localCheckpoint every 8 merges keeps the
    plan bounded for real vocabularies (the same Catalyst-depth
    discipline as the TransE trainer)."""
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .persist()  # every merge round's lineage re-enters here: scan once
    )
    seqs = _bpe_seq0(words)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        r = (
            _bpe_pair_counts(seqs)
            .orderBy(F.col("pc").desc(), "lhs", "rhs")
            .limit(1)
            .first()
        )
        if r is None:  # vocabulary fully merged — nothing left to count
            break
        merges.append((step, r["lhs"], r["rhs"], int(r["pc"])))
        seqs = seqs.select(
            "cnt",
            F.replace(
                F.col("seq"),
                F.lit(f" {r['lhs']}  {r['rhs']} "),
                F.lit(f" {r['lhs']}{r['rhs']} "),
            ).alias("seq"),
        )
        if step % 8 == 0:
            seqs = seqs.localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint"
    )


def txt_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: BPE_MERGES unrolled merge rounds over the documents
    corpus — each output row (step, lhs, rhs, pair_count) certifies that
    round's full pair count and the deterministic argmax choice, and
    steps 2+ additionally certify that the previous merges were APPLIED
    correctly (their counts depend on the rewritten sequences)."""
    return bpe_train(_docs(spark, sf), BPE_MERGES).orderBy("step")


def _bpe_train_ctes(n_merges: int) -> str:
    """The shared merge-training CTE chain (words → seq0 → pairs/best/seq
    per round) both txt_bpe_merges_sql and txt_bpe_encode_sql compose —
    a named helper, not string surgery on a rendered query, so a change
    to either final SELECT can't silently corrupt the other oracle.
    best{{i}} is MATERIALIZED: the encode oracle references every best
    twice (apply chain + final), and DuckDB inlines multiply-referenced
    CTEs, which re-evaluates the whole history-dependent prefix per
    reference (the graph_scc exponential-inlining lesson).

    Degenerate-corpus guard: if the corpus fully merges in fewer than
    n_merges rounds, the Python trainer (bpe_train) breaks early and the
    merge table is just shorter; a bare empty best{{i}} here would CROSS
    JOIN seq{{i}} (and the encode oracle's enc table) down to zero rows
    instead. bestf{{i}} therefore falls back to a chr(1)/chr(1) identity
    row — the pattern ' ' || chr(1) || '  ' || chr(1) || ' ' can never
    occur in a symbol stream (symbols never contain chr(1)-adjacent
    single spaces; interior separators are exactly two spaces), so the
    apply is a no-op, exactly like the Python early break. The merges
    oracle still reads best{{i}} (real winners only), so both engines
    emit the same shortened merge table."""
    k = []

    def pair_cte(i: int) -> str:
        return f"""pairs{i} AS (
        SELECT u.lhs AS lhs, u.rhs AS rhs, CAST(sum(cnt) AS BIGINT) AS pc
        FROM (
          SELECT cnt,
                 unnest(list_transform(range(1, len(tk)),
                        j -> {{'lhs': tk[j], 'rhs': tk[j + 1]}})) AS u
          FROM (SELECT cnt, string_split(trim(seq), '  ') AS tk
                FROM seq{i - 1}))
        GROUP BY u.lhs, u.rhs),
      best{i} AS MATERIALIZED (
        SELECT lhs, rhs, pc FROM pairs{i}
        ORDER BY pc DESC, lhs, rhs LIMIT 1),
      bestf{i} AS MATERIALIZED (
        SELECT lhs, rhs FROM best{i}
        UNION ALL
        SELECT chr(1), chr(1)
        WHERE NOT EXISTS (SELECT 1 FROM best{i}))"""

    def apply_cte(i: int) -> str:
        return f"""seq{i} AS (
        SELECT s.cnt,
               replace(s.seq, ' ' || p.lhs || '  ' || p.rhs || ' ',
                       ' ' || p.lhs || p.rhs || ' ') AS seq
        FROM seq{i - 1} s CROSS JOIN bestf{i} p)"""

    for i in range(1, n_merges + 1):
        k.append(pair_cte(i))
        if i < n_merges:
            k.append(apply_cte(i))
    ctes = ",\n      ".join(k)
    return f"""words AS (
        SELECT word, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word),
      seq0 AS (
        SELECT cnt,
               ' ' || array_to_string(
                 list_append(string_split(word, ''), '{BPE_EOW}'), '  ')
               || ' ' AS seq
        FROM words),
      {ctes}"""


def txt_bpe_merges_sql() -> str:
    finals = "\n      UNION ALL ".join(
        f"SELECT {i} AS step, lhs, rhs, pc AS pair_count FROM best{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return f"""
      WITH {_bpe_train_ctes(BPE_MERGES)}
      SELECT * FROM ({finals}) ORDER BY step
    """


# ------------------------------------------------------------- BPE encode --

def bpe_encode(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Apply a trained BPE merge table to the corpus — the ENCODE half of
    the tokenizer lifecycle bpe_train() is the TRAIN half of (the same
    train→serve pairing as the k-means IVF trainer + trained-IVF probe).

    The whole document is rendered as ONE symbol stream in the
    double-space encoding (per-word char split + {BPE_EOW}, word streams
    concatenated). Concatenation is SAFE: the boundary pair is always
    (x{BPE_EOW}, first-symbol-of-next-word), and no trained merge's lhs
    can end with {BPE_EOW} — the end-of-word marker is word-final by
    construction, so any symbol containing it is word-final too and
    never has a within-word right neighbour during training. Hence every
    merge replace() on the doc stream rewrites exactly the same
    occurrences as per-word application (property-tested vs a pure-Python
    reference encoder, including the 'a b' two-word vs 'ab' one-word
    discrimination).

    Merges apply in training order (each replace sees the previous
    round's stream — later merges may consume earlier merges' output
    symbols) as a guarded_collect of the model-sized merge table (the
    broadcast-a-model pattern: same as the detection trie and the
    k-means centroids) folded into LITERAL replace() calls — all
    whole-stage codegen over the corpus; a per-merge 1-row ride-along
    join would constant-fold into the interpreted
    BroadcastNestedLoopJoin on every corpus row. Real 30-50k-merge
    tokenizers don't chain 50k replaces: production swaps the expression
    chain for an Arrow-batched pandas UDF holding the compiled merge
    ranks (mapInPandas, model broadcast), plan shape otherwise unchanged.

    Output per doc: token count, tokens-per-word in exact milli units,
    and md5 of the final stream — the value hash certifies every merge
    was applied at every position of every document."""
    from mxsparkg.mining import guarded_collect

    rows = guarded_collect(merges.orderBy("step"), "bpe merge table")
    stream = docs.select(
        "doc_id",
        F.concat(
            F.lit(" "),
            F.expr(
                "array_join(transform(split(text, ' '), w -> "
                f"array_join(concat(split(w, ''), array('{BPE_EOW}')), "
                "'  ')), '  ')"
            ),
            F.lit(" "),
        ).alias("s"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    )
    col = F.col("s")
    for r in rows:
        col = F.replace(
            col,
            F.lit(f" {r['lhs']}  {r['rhs']} "),
            F.lit(f" {r['lhs']}{r['rhs']} "),
        )
    stream = stream.select("doc_id", "n_words", col.alias("s"))
    return stream.select(
        "doc_id",
        "n_words",
        F.size(F.split(F.trim("s"), "  ")).cast("bigint").alias("n_tokens"),
        F.expr(
            "(size(split(trim(s), '  ')) * cast(1000 as bigint)) div n_words"
        ).alias("tokens_per_word_milli"),
        F.md5("s").alias("tok_fp"),
    )


def txt_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: train BPE_MERGES merges on the documents corpus (the
    txt_bpe_merges chain) and encode the same corpus with them —
    end-to-end train→encode under one value hash, so a wrong merge, a
    wrong application order, or a single missed occurrence in any
    document fails the key."""
    docs = _docs(spark, sf)
    return bpe_encode(docs, bpe_train(docs, BPE_MERGES)).orderBy("doc_id")


def txt_bpe_encode_sql() -> str:
    rep = "s.s"
    for i in range(1, BPE_MERGES + 1):
        rep = (
            f"replace({rep}, ' ' || b{i}.lhs || '  ' || b{i}.rhs || ' ', "
            f"' ' || b{i}.lhs || b{i}.rhs || ' ')"
        )
    crosses = " ".join(
        # bestf{i}: identity-sentinel fallback so a fully-merged (tiny)
        # corpus shortens the merge chain instead of emptying enc —
        # see _bpe_train_ctes.
        f"CROSS JOIN bestf{i} b{i}" for i in range(1, BPE_MERGES + 1)
    )
    return f"""
      WITH {_bpe_train_ctes(BPE_MERGES)},
      seq_docs AS (
        SELECT doc_id,
               ' ' || array_to_string(list_transform(
                 string_split(text, ' '),
                 w -> array_to_string(
                   list_append(string_split(w, ''), '{BPE_EOW}'), '  ')),
                 '  ') || ' ' AS s,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents),
      enc AS (
        SELECT s.doc_id, s.n_words, {rep} AS s
        FROM seq_docs s {crosses})
      SELECT doc_id, n_words,
             CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_tokens,
             CAST(len(string_split(trim(s), '  ')) AS BIGINT) * 1000
               // n_words AS tokens_per_word_milli,
             md5(s) AS tok_fp
      FROM enc ORDER BY doc_id
    """


def txt_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram language-model surprisal scoring — the CCNet/Gopher-class
    perplexity filter: train add-one-smoothed bigram counts on the corpus
    itself, then score every document by its per-bigram surprisal
    -log P(w2 | w1) with P = (c(w1 w2) + 1) / (c(w1·) + V).

    Surprisal is quantized to WHOLE BITS via exact integer log2
    (floor(log2 n) = length(bin(n)) - 1, identical in Spark and DuckDB):
    a float sum over grouped rows is partition-order-dependent (float
    addition is not associative), so a double-summed log-prob would differ
    between local[4] and a 1000-executor cluster — the same
    determinism-as-a-feature call as the integer-mass PageRank
    (graphquery.py) and the decimal k-means oracle. Whole-bit quantization
    keeps the ranking signal (low-quality docs score several bits/bigram
    above clean text) while making the score bit-identical everywhere.

    Scale posture: bigram counts and history counts are map-side-combined
    groupBys; the count tables join back on their own keys (hot bigrams →
    AQE skew split applies); the vocabulary size V is one scalar riding a
    one-row broadcast join. No corpus-wide sort, no window."""
    # project the token array FIRST — inlining split() into the transform
    # lambda re-evaluates it per element (quadratic in doc length)
    d = _docs(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    occ = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS w1,"
                " concat(element_at(w, i), ' ', element_at(w, i + 1)) AS bg))"
                " ELSE array() END"
            )
        ).alias("o"),
    ).select("doc_id", "o.w1", "o.bg")
    bgc = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    hist = occ.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    # vocabulary size V: one bigint to the driver, re-entering as a
    # literal — as a 1-row ride-along join the constant key folds away
    # and Spark plans the interpreted BroadcastNestedLoopJoin over the
    # per-bigram occ table, i.e. the CORPUS (the join_bloom lifecycle
    # lesson; plan-asserted BNLJ-free in tests/test_plans.py)
    v = int(
        d.select(F.explode("w").alias("t"))
        .agg(F.count_distinct("t"))
        .first()[0]
    )
    scored = (
        occ.join(bgc, "bg")
        .join(hist, "w1")
        .select(
            "doc_id",
            F.expr(
                f"length(bin(c1 + cast({v} as bigint)))"
                " - length(bin(c12 + 1))"
            ).alias("bits"),
            F.when(F.col("c12") == 1, 1).otherwise(0).alias("unseen"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bits").alias("bits_total"),
        F.expr("(sum(bits) * 1000) div count(1)").alias("bits_milli_per_bigram"),
        F.sum("unseen").alias("n_unseen"),
    )


def txt_lm_score_sql() -> str:
    return """
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      occ AS (
        SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS bg
        FROM d, unnest(range(1, len(w))) AS t(i)),
      bgc AS (SELECT bg, count(*) AS c12 FROM occ GROUP BY bg),
      hist AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1),
      vocab AS (
        SELECT count(DISTINCT t) AS v
        FROM (SELECT unnest(w) AS t FROM d))
      SELECT o.doc_id,
        count(*) AS n_bigrams,
        CAST(sum(length(bin(h.c1 + vocab.v)) - length(bin(b.c12 + 1)))
          AS BIGINT) AS bits_total,
        CAST((sum(length(bin(h.c1 + vocab.v)) - length(bin(b.c12 + 1))) * 1000)
          // count(*) AS BIGINT) AS bits_milli_per_bigram,
        CAST(sum(CASE WHEN b.c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen
      FROM occ o JOIN bgc b ON b.bg = o.bg
      JOIN hist h ON h.w1 = o.w1 CROSS JOIN vocab
      GROUP BY o.doc_id
    """


# per-stratum sampling rates in percent; strata are the documents table's
# lang column, DEFAULT covers unseen languages
SAMPLE_RATE_PCT = {"en": 60, "fr": 40, "es": 40, "de": 25}
SAMPLE_RATE_DEFAULT_PCT = 10


def txt_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling — the training-data mix primitive
    (per-language quotas). `df.sample()` / F.rand are partition-order-
    dependent (reruns and resumes would pick different documents), so the
    sample key is md5(doc_id): uniform over docs, stable across reruns,
    engines, and partitionings. Each stratum keeps its exact quota
    ceil(n * rate%) of documents, chosen as the lowest hash values.

    Scale posture: the per-stratum quota needs the stratum count — a tiny
    groupBy-count broadcast back (NOT a count-over-window, which buffers
    the whole stratum on one reducer — the round-2 OOM lesson); the exact-k
    selection is a rank window per stratum, the one genuinely ordered step.
    At 10^12 docs you'd replace the window with a hash-threshold
    (approx-quantile of md5 per stratum → filter), trading exact-k for a
    shuffle-free plan; rank keeps the oracle exact here."""
    from pyspark.sql import Window

    rate = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in SAMPLE_RATE_PCT.items() for x in kv]
        )[F.col("lang")],
        F.lit(SAMPLE_RATE_DEFAULT_PCT),
    )
    docs = _docs(spark, sf).select(
        "doc_id",
        "lang",
        _md5s(F.col("doc_id").cast("string")).alias("skey"),
        rate.alias("rate_pct"),
    )
    quota = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_stratum"))
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    # ceil(n * rate / 100) as (x + 99) div 100: positive operands only —
    # Spark's `div` truncates toward zero while DuckDB's `//` floors, so
    # the -(-x div d) ceil idiom would silently disagree across engines
    return (
        docs.join(F.broadcast(quota), "lang")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "k_target", F.expr("(n_stratum * rate_pct + 99) div 100")
        )
        .filter(F.col("rn") <= F.col("k_target"))
        .select("doc_id", "lang", "n_stratum", "k_target", "rn")
    )


def txt_sample_stratified_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATE_PCT.items()
    )
    return f"""
      WITH docs AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS skey,
               CASE lang {cases} ELSE {SAMPLE_RATE_DEFAULT_PCT} END AS rate_pct
        FROM documents),
      quota AS (SELECT lang, count(*) AS n_stratum FROM docs GROUP BY lang),
      ranked AS (
        SELECT d.doc_id, d.lang, q.n_stratum,
               (q.n_stratum * d.rate_pct + 99) // 100 AS k_target,
               row_number() OVER (PARTITION BY d.lang
                                  ORDER BY d.skey, d.doc_id) AS rn
        FROM docs d JOIN quota q ON q.lang = d.lang)
      SELECT doc_id, lang, n_stratum, k_target, rn
      FROM ranked WHERE rn <= k_target
    """


# ===================================================== incremental dedup

# Incremental (cross-snapshot) exact dedup — the PRODUCTION ingest mode:
# a new crawl shard is deduplicated against the digest index of the
# already-ingested corpus, not against itself. The base/incoming split is
# doc_id % 3; the incoming shard additionally contains re-fetches of ~1/7
# of the base docs under NEW doc_ids (planted in-query — same content,
# new fetch id, exactly what a re-crawl produces), so the dup path is
# non-vacuous at every sf.
INCR_REFETCH_OFFSET = 1_000_000_000  # >> any real doc_id at any sf


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Flag incoming documents whose content digest already exists in the
    base corpus; dup_of = the keeper (min doc_id) holding that digest.
    Composes the certified D1 digest groupBy with the equi-join the
    incremental path needs.

    Scale shape: the base side reduces to ONE row per distinct digest
    (map-side combined) before the join — at 10^12 docs that digest index
    is a materialized table maintained by the delta applier
    (kg_apply_delta), not recomputed; the join is a plain digest
    equi-join (NOT broadcast: the corpus index outgrows any executor),
    with the join_bloom runtime-filter as the standard accelerant when
    the incoming shard is small relative to the index."""
    d = _docs(spark, sf).select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 3 != 0)
    refetch = base.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + INCR_REFETCH_OFFSET).alias("doc_id"), "text"
    )
    incoming = d.filter(F.col("doc_id") % 3 == 0).unionByName(refetch)
    index = (
        base.select(_md5s(F.col("text")).alias("dg"), "doc_id")
        .groupBy("dg")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return (
        incoming.select("doc_id", _md5s(F.col("text")).alias("dg"))
        .join(index, "dg", "left")
        .select(
            "doc_id", "dg",
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
        )
    )


def dedup_incremental_sql() -> str:
    return f"""
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      incoming AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + {INCR_REFETCH_OFFSET}, text FROM base
        WHERE doc_id % 7 = 1),
      idx AS (
        SELECT md5(text) AS dg, min(doc_id) AS dup_of
        FROM base GROUP BY 1)
      SELECT i.doc_id, md5(i.text) AS dg,
             CAST(idx.dup_of IS NOT NULL AS INT) AS is_dup, idx.dup_of
      FROM incoming i LEFT JOIN idx ON idx.dg = md5(i.text)
    """


# ===================================================== model-based filter

# Hashed-feature linear classifier (the fastText-style quality filter tier:
# CCNet / C4 / LLaMA-data all gate documents on a linear model over hashed
# word n-grams). The hashing trick: feature → md5 → integer weight index,
# so the model needs NO vocabulary — any token, any language, fixed memory.
CLS_W_MOD = 201  # weights in [-100, 100]: hexint(md5) % 201 - 100


def _cls_weight(feat: Column) -> Column:
    """Deterministic per-feature weight standing in for a trained
    coefficient: first 6 hex digits of md5('w|'||feat) → int → centered
    mod. Production replaces this single expression with a broadcast
    (bucket → weight) map lookup of REAL trained weights over the same
    hashed bucket ids — plan shape unchanged. That trained model EXISTS
    now: txt_classify_train / txt_classify_trained below train and apply
    fixed-point GD weights (this key keeps the hash weights so its
    driver-audit history stays bit-stable)."""
    h = F.md5(F.concat(F.lit("w|"), feat).cast("binary"))
    return (
        F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % CLS_W_MOD - 100
    )


def txt_classify(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-style document classification: score = Σ weight(feature)
    over unigram + word-bigram features (wordNgrams=2), keep = score > 0.
    Integer weights make the sum exact and partition-order-proof — the
    same determinism call as txt_lm_score's whole-bit surprisal (a float
    dot product would drift between local[4] and 1000 executors).

    Scale shape: tokenize once into a column (generate-inlining pitfall),
    one explode over unigrams++bigrams, one map-side-combinable groupBy
    sum — the entire classifier is codegen'd JVM expressions, zero
    Python, no shuffle beyond the per-doc sum. At 10^12 docs this is the
    cheapest model-based filter shape there is: no vocabulary join, no
    weight shuffle (hash-derived here; a broadcast map in production)."""
    d = _docs(spark, sf).select("doc_id", F.split("text", " ").alias("w"))
    bi = F.expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w) - 2),"
        " i -> concat(w[i], ' ', w[i+1]))"
        " ELSE array() END"
    )
    feats = d.select(
        "doc_id", F.explode(F.concat(F.col("w"), bi)).alias("f")
    )
    return (
        feats.select("doc_id", _cls_weight(F.col("f")).alias("wt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feat"),
            F.sum("wt").alias("logit"),
        )
        .select(
            "doc_id", "n_feat", "logit",
            (F.col("logit") > 0).cast("int").alias("keep"),
        )
    )


def txt_classify_sql() -> str:
    w = (
        f"('0x' || substr(md5('w|' || f), 1, 6))::BIGINT"
        f" % {CLS_W_MOD} - 100"
    )
    return f"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      feats AS (
        SELECT doc_id, unnest(list_concat(w,
                 CASE WHEN len(w) >= 2 THEN
                   list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i+1])
                 ELSE [] END)) AS f
        FROM toks),
      scored AS (SELECT doc_id, {w} AS wt FROM feats)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
             CAST(sum(wt) AS BIGINT) AS logit,
             CAST(sum(wt) > 0 AS INT) AS keep
      FROM scored GROUP BY doc_id
    """


# ------------------------------------------- TRAINED quality classifier

# The real model behind the plan shape txt_classify pins: a linear
# classifier over hashed binary bucket features, trained by full-batch
# gradient descent on the least-squares surrogate in FIXED-POINT INTEGER
# arithmetic (the kgembed TransE discipline: every quantity is a bigint,
# so 7 vs 7000 partitions produce bit-identical weights). Design notes,
# all measured during prototyping:
#   - COUNT features diverge: the document-length direction dominates the
#     spectrum (Jacobi spectral radius ~18-21 on this corpus), so lr small
#     enough to be stable learns nothing in few epochs. BINARY presence
#     features condition the problem; GD then matches the EXACT ridge
#     solution's held-out accuracy by epoch 7 (0.95 vs 0.95).
#   - Full-batch PERCEPTRON (lr=1 count updates, or TransE-style sign
#     updates) oscillates with period 2 on this data — the online
#     convergence theorem does not apply to batch-summed updates. The
#     least-squares gradient uses every residual, not just the wrong set,
#     and descends monotonically at lr = 1/(N·2^5).
#   - Labels are deterministically planted: y = +1 iff doc_id is even,
#     marker tokens injected in-query by TRUE class (content reflects
#     quality), and ~5% of LABELS flipped (doc_id % 19 == 5) — annotation
#     noise the trainer must shrug off. Held-out accuracy lands at ~0.95
#     (the noise ceiling); the hash stand-in scores ~0.50 on the same
#     labels (tests/test_classify_train.py asserts the separation).
#   - Marker tokens were chosen so their md5 % 64 buckets avoid the 31
#     corpus tokens' 25 buckets — a planted-data convenience; real
#     corpora wear collisions as hashing-trick noise.
# Scale shape: each epoch is two shuffles over the TRAIN feature table
# (broadcast model join + per-doc sum, then per-bucket gradient sum) and
# a 64-row collect. At 10^12 docs the labeled train split is a fixed
# subsample (quality classifiers train on ~10^5-10^6 labeled docs and
# score everything — the CCNet/fastText recipe); scoring is one broadcast
# join + map-side-combinable sum, identical to txt_classify's shape.
CLS_B = 64            # hashed weight buckets
CLS_SCALE = 1 << 20   # fixed-point target: y * 2^20
CLS_EPOCHS = 8        # train error plateaus at the noise floor by ep 7
CLS_LR_SHIFT = 5      # lr = 1 / (n_train * 2^5) — stable, measured
_CLS_GOOD = ("mq3", "mq4", "mq5")    # buckets 45/57/13 (collision-free)
_CLS_BAD = ("mq9", "mq10", "mq11")   # buckets 54/24/23
_CLS_MEMO: dict = {}


def _cls_bucket(col: Column) -> Column:
    h = F.md5(col.cast("binary"))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % CLS_B


def _cls_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Planted training corpus → distinct (doc_id, y, is_train, bucket)
    binary bucket features. Markers ride the text through the SAME
    tokenize+hash path as real tokens (concat_ws skips the NULL second
    marker in both engines)."""
    d = _docs(spark, sf)
    pos = F.col("doc_id") % 2 == 0
    k = F.expr("(doc_id div 2) % 3").cast("int")
    m1 = F.when(
        pos, F.element_at(F.array(*[F.lit(x) for x in _CLS_GOOD]), k + 1)
    ).otherwise(
        F.element_at(F.array(*[F.lit(x) for x in _CLS_BAD]), k + 1)
    )
    m2 = F.when(
        F.col("doc_id") % 3 == 0,
        F.when(pos, F.lit("mq8")).otherwise(F.lit("mq12")),
    )
    y0 = F.when(pos, F.lit(1)).otherwise(F.lit(-1))
    planted = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 5, -y0).otherwise(y0)
        .cast("long").alias("y"),
        (F.expr("(doc_id div 2) % 4") != 3).alias("is_train"),
        F.concat_ws(" ", F.col("text"), m1, m2, F.lit("q_b")).alias("t2"),
    )
    return (
        planted.select(
            "doc_id", "y", "is_train",
            F.explode(F.split("t2", " ")).alias("f"),
        )
        .select("doc_id", "y", "is_train", _cls_bucket(F.col("f")).alias("bucket"))
        .dropDuplicates(["doc_id", "bucket"])
    )


def _cls_epoch_gradient(tr_feats: DataFrame, w: dict[int, int],
                        spark: SparkSession) -> DataFrame:
    """One full-batch least-squares gradient over the train features
    given current weights: g_b = Σ_{d ∋ b} (y_d·SCALE − Σ_{b'∈d} w_b').
    Two shuffles; the model rides as a ≤64-row broadcast."""
    if w:
        w_df = spark.createDataFrame(
            sorted(w.items()), "bucket long, w long")
        j = tr_feats.join(F.broadcast(w_df), "bucket", "left")
    else:
        j = tr_feats.withColumn("w", F.lit(None).cast("long"))
    m = j.groupBy("doc_id", "y").agg(
        F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("m"))
    r = m.select(
        "doc_id", (F.col("y") * CLS_SCALE - F.col("m")).alias("r"))
    return tr_feats.join(r, "doc_id").groupBy("bucket").agg(
        F.sum("r").alias("g"))


def _cls_train(spark: SparkSession, sf: str,
               epochs: int) -> tuple[dict[int, int], int]:
    """Run `epochs` full-batch GD epochs; returns (weights, n_train).
    Only the ≤64-row gradient crosses to the driver per epoch (the
    k-means shape: the model is small, the data never moves)."""
    from mxsparkg.mining import guarded_collect

    memo_key = (sf, epochs)
    if memo_key in _CLS_MEMO:
        return _CLS_MEMO[memo_key]
    feats = _cls_corpus(spark, sf).persist()
    try:
        tr_feats = feats.filter("is_train").select("doc_id", "y", "bucket")
        n = tr_feats.select("doc_id").distinct().count()
        step = n << CLS_LR_SHIFT
        w: dict[int, int] = {}
        for _ in range(epochs):
            rows = guarded_collect(
                _cls_epoch_gradient(tr_feats, w, spark), "cls gradient")
            for row in rows:
                w[row["bucket"]] = w.get(row["bucket"], 0) + row["g"] // step
    finally:
        feats.unpersist()
    _CLS_MEMO[memo_key] = (w, n)
    return w, n


def txt_classify_train(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the trained weight table after CLS_EPOCHS full-batch
    fixed-point GD epochs. Epochs 1..N-1 run driver-assisted (64-row
    gradient collects); the LAST epoch is returned as a DataFrame
    computation, so the gate certifies the distributed gradient
    aggregation and floor-division update themselves, not a
    driver-computed copy (the ann_kmeans_centroids pattern)."""
    w_prev, n = _cls_train(spark, sf, CLS_EPOCHS - 1)
    feats = _cls_corpus(spark, sf)
    tr_feats = feats.filter("is_train").select("doc_id", "y", "bucket")
    g = _cls_epoch_gradient(tr_feats, w_prev, spark)
    step = n << CLS_LR_SHIFT
    w_df = spark.createDataFrame(
        sorted(w_prev.items()), "bucket long, w long")
    fdiv = F.expr(f"(g - pmod(g, {step})) div {step}")
    return (
        g.join(F.broadcast(w_df), "bucket", "left")
        .select(
            "bucket",
            (F.coalesce(F.col("w"), F.lit(0)) + fdiv).alias("w"),
        )
    )


def txt_classify_trained(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the trained model applied to the HELD-OUT split —
    per-doc integer score, prediction, and correctness vs the planted
    (noisy) label. The scoring plan is txt_classify's: one broadcast
    model join + one map-side-combinable sum, zero Python."""
    w, _ = _cls_train(spark, sf, CLS_EPOCHS)
    w_df = spark.createDataFrame(sorted(w.items()), "bucket long, w long")
    te = _cls_corpus(spark, sf).filter(~F.col("is_train"))
    pred = F.when(F.col("score") > 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        te.join(F.broadcast(w_df), "bucket", "left")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("score"))
        .select(
            "doc_id", F.col("y").alias("label"), "score",
            pred.alias("pred"),
            (pred == F.col("y")).cast("int").alias("correct"),
        )
    )


def _cls_corpus_ctes() -> str:
    """The planted corpus + hashed binary features as shared CTEs — the
    SQL mirror of _cls_corpus, consumed by the GD trainer's oracle and
    the Naive Bayes oracle below."""
    good = ", ".join(f"'{t}'" for t in _CLS_GOOD)
    bad = ", ".join(f"'{t}'" for t in _CLS_BAD)
    return f"""planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 19 = 5 THEN -y0 ELSE y0 END AS y,
               (doc_id // 2) % 4 <> 3 AS is_train,
               concat_ws(' ', text, m1, m2, 'q_b') AS t2
        FROM (
          SELECT doc_id, text,
            CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS y0,
            CASE WHEN doc_id % 2 = 0
                 THEN [{good}][CAST((doc_id // 2) % 3 AS INT) + 1]
                 ELSE [{bad}][CAST((doc_id // 2) % 3 AS INT) + 1]
            END AS m1,
            CASE WHEN doc_id % 3 = 0 THEN
              CASE WHEN doc_id % 2 = 0 THEN 'mq8' ELSE 'mq12' END
            END AS m2
          FROM documents)),
      feats AS MATERIALIZED (
        SELECT DISTINCT doc_id, y, is_train,
               ('0x' || substr(md5(f), 1, 6))::BIGINT % {CLS_B} AS bucket
        FROM (SELECT doc_id, y, is_train,
                     unnest(string_split(t2, ' ')) AS f
              FROM planted))"""


def _cls_train_ctes(epochs: int) -> str:
    """The training loop unrolled into CTEs (the kg_transe / BPE oracle
    pattern). AS MATERIALIZED is load-bearing: each w{e} is referenced
    twice by epoch e+1 and DuckDB would otherwise inline it
    exponentially. Floor division spelled (g - ((g%b + b)%b)) // b ==
    Python's // == Spark's (g - pmod(g, b)) div b for b > 0."""
    ctes = [f"""
      {_cls_corpus_ctes()},
      tfeats AS MATERIALIZED (
        SELECT doc_id, y, bucket FROM feats WHERE is_train),
      nn AS (
        SELECT count(DISTINCT doc_id) * {1 << CLS_LR_SHIFT} AS b
        FROM tfeats),
      g1 AS (
        SELECT bucket, sum(y * {CLS_SCALE}) AS g
        FROM tfeats GROUP BY bucket),
      w1 AS MATERIALIZED (
        SELECT bucket, (g - ((g % b + b) % b)) // b AS w FROM g1, nn)"""]
    for e in range(2, epochs + 1):
        ctes.append(f"""
      m{e} AS (
        SELECT t.doc_id, t.y, sum(coalesce(w.w, 0)) AS m
        FROM tfeats t LEFT JOIN w{e-1} w USING (bucket)
        GROUP BY t.doc_id, t.y),
      g{e} AS (
        SELECT t.bucket, sum(m.y * {CLS_SCALE} - m.m) AS g
        FROM tfeats t JOIN m{e} m USING (doc_id) GROUP BY t.bucket),
      w{e} AS MATERIALIZED (
        SELECT g.bucket,
               coalesce(w.w, 0) + (g - ((g % b + b) % b)) // b AS w
        FROM g{e} g LEFT JOIN w{e-1} w USING (bucket), nn)""")
    return ",".join(ctes)


def txt_classify_train_sql() -> str:
    return f"""
      WITH {_cls_train_ctes(CLS_EPOCHS)}
      SELECT bucket, w FROM w{CLS_EPOCHS}
    """


def txt_classify_trained_sql() -> str:
    return f"""
      WITH {_cls_train_ctes(CLS_EPOCHS)},
      scored AS (
        SELECT t.doc_id, t.y, sum(coalesce(w.w, 0)) AS score
        FROM (SELECT doc_id, y, bucket FROM feats WHERE NOT is_train) t
        LEFT JOIN w{CLS_EPOCHS} w USING (bucket)
        GROUP BY t.doc_id, t.y)
      SELECT doc_id, y AS label, score,
             CASE WHEN score > 0 THEN 1 ELSE -1 END AS pred,
             CAST((CASE WHEN score > 0 THEN 1 ELSE -1 END) = y AS INT)
               AS correct
      FROM scored
    """


# ------------------------------------------------- Naive Bayes sibling --
# The closed-form counting classifier next to the GD trainer: Bernoulli-
# presence Naive Bayes with WHOLE-BIT integer log-likelihood ratios
# (floor-log2 via length(bin()) — the edge-PMI / bigram-surprisal
# quantization, partition-order-proof by construction). Add-one smoothed:
#   w_b = bits((n_b⁺+1)·(D⁻+2)) − bits((n_b⁻+1)·(D⁺+2))
# ≈ floor-log2 P(b|+)/P(b|−); marker buckets score ~±10 bits while
# class-balanced corpus tokens land in {−1,0,+1}, so the planted signal
# dominates the quantization noise (held-out accuracy 0.952 at sf0.01 ==
# the 5%-label-flip noise ceiling, same as the GD model — measured).
# Unlike the GD trainer there is NO driver loop and NO collect at all:
# training is two map-side-combinable rollups, the purest possible
# trained-model shape at 10^12 docs (the presence-only score drops
# Bernoulli's absence term — standard for sparse text, documented).


def _nb_weights(spark: SparkSession, sf: str) -> DataFrame:
    """(bucket, n_pos, n_neg, w_bits) from the train split — class
    totals ride a 1-row join (the triangle_stats `_k` pattern), never a
    collect."""
    feats = _cls_corpus(spark, sf).filter("is_train")
    k = F.lit(1).alias("_k")
    dd = (
        feats.select("doc_id", "y").distinct()
        .agg(
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
            .cast("long").alias("dpos"),
            F.sum(F.when(F.col("y") == -1, 1).otherwise(0))
            .cast("long").alias("dneg"),
        )
        .select(k, "dpos", "dneg")
    )
    cnt = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long").alias("n_pos"),
        F.sum(F.when(F.col("y") == -1, 1).otherwise(0))
        .cast("long").alias("n_neg"),
    )
    return cnt.select(k, "bucket", "n_pos", "n_neg").join(
        F.broadcast(dd), "_k"
    ).select(
        "bucket", "n_pos", "n_neg",
        F.expr(
            "cast(length(bin((n_pos + 1) * (dneg + 2)))"
            " - length(bin((n_neg + 1) * (dpos + 2))) as bigint)"
        ).alias("w_bits"),
    )


def txt_nb_train(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the Naive Bayes model table — per-bucket class counts
    and the whole-bit smoothed log-ratio weight."""
    return _nb_weights(spark, sf)


def txt_nb_classify(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the NB model applied to the HELD-OUT split — per-doc
    integer bit score, prediction, correctness vs the planted noisy
    label (txt_classify_trained's exact output shape, so the two
    trained models are directly comparable). Scoring is one broadcast
    model join + one map-side-combinable sum, zero Python."""
    w = _nb_weights(spark, sf).select("bucket", "w_bits")
    te = _cls_corpus(spark, sf).filter(~F.col("is_train"))
    pred = F.when(F.col("score") > 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        te.join(F.broadcast(w), "bucket", "left")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.coalesce(F.col("w_bits"), F.lit(0))).alias("score"))
        .select(
            "doc_id", F.col("y").alias("label"), "score",
            pred.alias("pred"),
            (pred == F.col("y")).cast("int").alias("correct"),
        )
    )


def _nb_ctes() -> str:
    return f"""{_cls_corpus_ctes()},
      tr AS (SELECT DISTINCT doc_id, y FROM feats WHERE is_train),
      dd AS (
        SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS dpos,
               sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS dneg FROM tr),
      nbw AS MATERIALIZED (
        SELECT bucket,
               CAST(n_pos AS BIGINT) AS n_pos,
               CAST(n_neg AS BIGINT) AS n_neg,
               CAST(length(bin((n_pos + 1) * (dneg + 2)))
                    - length(bin((n_neg + 1) * (dpos + 2))) AS BIGINT)
                 AS w_bits
        FROM (
          SELECT bucket,
                 sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n_pos,
                 sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS n_neg
          FROM feats WHERE is_train GROUP BY bucket), dd)"""


def txt_nb_train_sql() -> str:
    return f"""
      WITH {_nb_ctes()}
      SELECT bucket, n_pos, n_neg, w_bits FROM nbw
    """


def txt_nb_classify_sql() -> str:
    return f"""
      WITH {_nb_ctes()},
      scored AS (
        SELECT t.doc_id, t.y, sum(coalesce(w.w_bits, 0)) AS score
        FROM (SELECT doc_id, y, bucket FROM feats WHERE NOT is_train) t
        LEFT JOIN nbw w USING (bucket)
        GROUP BY t.doc_id, t.y)
      SELECT doc_id, y AS label, score,
             CASE WHEN score > 0 THEN 1 ELSE -1 END AS pred,
             CAST((CASE WHEN score > 0 THEN 1 ELSE -1 END) = y AS INT)
               AS correct
      FROM scored
    """


# =================================================== boilerplate removal

# Line-level boilerplate strip — the MassiveText/C4 dedup tier between
# whole-document dedup and substring dedup: text units repeated across MANY
# documents (cookie banners, nav bars, license footers) are dropped from
# every document by document-frequency threshold. The synthetic corpus has
# no newline structure, so the "line" unit here is a fixed 8-token segment
# (production splits on '\n' — only the segmentation expression changes;
# planting PREPENDS the boilerplate so it is segment-aligned, exactly like
# real line-split text is line-aligned).
BOILER_SEG_W = 8
BOILER_DF = 4          # doc-frequency threshold: > this many docs = boilerplate
BOILER_TEXT = "all rights reserved contact us terms of service"  # 8 tokens


def txt_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Strip boilerplate segments by corpus document frequency. Emits per
    document its segment count, stripped-segment count, and md5 of the
    cleaned text — the join-back manifest (house pattern: emit the
    fingerprint, not the text). A known 8-token boilerplate line is
    planted in-query on every 5th document (like dedup_winnow_pairs'
    planted overlaps) so the op is non-vacuous at every sf.

    Scale shape: segment df is one map-side-combinable groupBy over
    segment fingerprints; boilerplate fps (≤ corpus_segments / DF
    threshold keys — tiny) come back as a BROADCAST left join, not a
    window (the r2 OOM lesson: never buffer a posting list on one
    reducer). Reassembly is a per-doc sort_array over collected
    (seg_id, seg) structs — partition-order-proof, exactly DuckDB's
    string_agg(... ORDER BY seg_id)."""
    sw = BOILER_SEG_W
    d = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(BOILER_TEXT + " "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    toks = d.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select("doc_id", "w", F.size("w").cast("long").alias("n"))
    segs = toks.select(
        "doc_id", "w",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.expr(f"(n - 1) div {sw}")
            )
        ).alias("seg_id"),
    ).select(
        "doc_id", "seg_id",
        F.array_join(
            F.slice("w", F.col("seg_id") * sw + 1, F.lit(sw)), " "
        ).alias("seg"),
    ).withColumn("fp", F.md5(F.col("seg").cast("binary")))
    boiler = (
        segs.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") > BOILER_DF)
        .select("fp", F.lit(1).alias("_b"))
    )
    flagged = segs.join(F.broadcast(boiler), "fp", "left").withColumn(
        "is_b", F.col("_b").isNotNull()
    )
    kept = F.when(
        ~F.col("is_b"), F.struct(F.col("seg_id"), F.col("seg"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_seg"),
            F.sum(F.col("is_b").cast("int")).alias("n_stripped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(kept)),
                        lambda x: x["seg"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("clean_fp"),
        )
    )


def txt_boilerplate_sql() -> str:
    sw = BOILER_SEG_W
    return f"""
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN '{BOILER_TEXT} ' || text ELSE text END AS text
        FROM documents),
      toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM d),
      segs AS (
        SELECT doc_id, unnest(range(0, (n - 1) // {sw} + 1)) AS seg_id, w
        FROM toks),
      fps AS (
        SELECT doc_id, seg_id,
               array_to_string(
                 list_slice(w, seg_id * {sw} + 1, seg_id * {sw} + {sw}),
                 ' ') AS seg
        FROM segs),
      fps2 AS (SELECT *, md5(seg) AS fp FROM fps),
      boiler AS (
        SELECT fp FROM fps2 GROUP BY fp
        HAVING count(DISTINCT doc_id) > {BOILER_DF}),
      flag AS (
        SELECT f.doc_id, f.seg_id, f.seg, b.fp IS NOT NULL AS is_b
        FROM fps2 f LEFT JOIN boiler b ON b.fp = f.fp)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
             CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stripped,
             md5(COALESCE(string_agg(seg, ' ' ORDER BY seg_id)
                            FILTER (WHERE NOT is_b), '')) AS clean_fp
      FROM flag GROUP BY doc_id
    """


# ====================================================== per-group pandas

GRP_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("n_docs", LongType()),
        StructField("mean_chars", StringType()),
        StructField("max_chars", LongType()),
        StructField("first_doc", LongType()),
    ]
)


def grp_apply_pandas(spark: SparkSession, sf: str) -> DataFrame:
    """U5 per-group processing: df.groupBy(key).applyInPandas — the shape
    for per-host batch work (politeness stats, per-host dedup) where the
    whole group must be visible to one Python function. Arrow-batched;
    group key drives the shuffle, so salting (J8) applies when keys skew."""

    def stats(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                # string-formatted to 4dp: float mean differs in the last
                # ulp between engines' summation orders
                "mean_chars": [f"{pdf['n_chars'].mean():.4f}"],
                "max_chars": [int(pdf["n_chars"].max())],
                "first_doc": [int(pdf["doc_id"].min())],
            }
        )

    return (
        _docs(spark, sf)
        .select("source", "doc_id", "n_chars")
        .groupBy("source")
        .applyInPandas(stats, GRP_SCHEMA)
    )


def grp_apply_pandas_sql() -> str:
    return """
      SELECT source, count(*) AS n_docs,
             printf('%.4f', avg(n_chars)) AS mean_chars,
             max(n_chars) AS max_chars,
             min(doc_id) AS first_doc
      FROM documents GROUP BY source
    """


# ================================================================ registry

# URL canonicalization + dedup: the first screen a Common-Crawl-style
# corpus runs (the same page is crawled under utm-tagged / fragment /
# mixed-case-host variants; ~10-20% of raw crawl URLs collapse). Patterns
# are restricted to the Java-regex ∩ RE2 portable subset: (?i) flags and
# regexp_extract groups are fine, but NO capture-group backrefs in
# replacements ($1 vs \\1 diverge) and NO lookarounds (RE2 lacks them).
_RE_SCHEME_HOST = "(?i)^https?://([^/]+)"
_RE_AFTER_HOST = "(?i)^https?://[^/]*"
_RE_FRAGMENT = "#.*"
_RE_UTM = "utm_[a-z]+=[^&]*&?"
_RE_DANGLING = "[?&]$"
_RE_PORT = ":[0-9]+$"
_RE_WWW = "^www\\."


def url_canon_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonicalize deterministic planted crawl URLs (mixed-case scheme+
    host, www prefix, default port, utm_* tracking params, fragments) and
    dedup on the canonical form. Planting derives the URL from doc_id
    (same expressions in the oracle): every 3 consecutive doc_ids share a
    page, crawled once clean-ish, once with a real query param + utm junk,
    once with a fragment — so canonical groups are genuinely non-trivial
    (the id=1 variant must NOT merge; the utm/fragment variants must).
    One groupBy on the canonical string — the exact-dedup shuffle shape,
    scale-safe at 10^12 URLs."""
    d = _docs(spark, sf).select("doc_id")
    raw = F.expr(
        "concat('HTTP://WWW.Site', cast((doc_id div 3) % 7 as string),"
        " '.Example.COM:80/Path/', cast(doc_id div 3 as string),"
        " CASE cast(doc_id % 3 as int)"
        "   WHEN 0 THEN '?utm_source=feed&utm_campaign=x'"
        "   WHEN 1 THEN '?id=1&utm_medium=email#frag'"
        "   ELSE '#sec' END)"
    )
    urls = d.select("doc_id", raw.alias("raw_url"))
    host = F.lower(F.regexp_extract("raw_url", _RE_SCHEME_HOST, 1))
    host = F.regexp_replace(host, _RE_PORT, "")
    host = F.regexp_replace(host, _RE_WWW, "")
    rest = F.regexp_replace("raw_url", _RE_AFTER_HOST, "")
    rest = F.regexp_replace(rest, _RE_FRAGMENT, "")
    rest = F.regexp_replace(rest, _RE_UTM, "")
    rest = F.regexp_replace(rest, _RE_DANGLING, "")
    canon = F.concat(F.lit("http://"), host, rest)
    return (
        urls.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


def url_canon_dedup_sql() -> str:
    return f"""
      WITH raw AS (
        SELECT doc_id,
          'HTTP://WWW.Site' || CAST((doc_id // 3) % 7 AS VARCHAR)
          || '.Example.COM:80/Path/' || CAST(doc_id // 3 AS VARCHAR)
          || CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
               WHEN 1 THEN '?id=1&utm_medium=email#frag'
               ELSE '#sec' END AS raw_url
        FROM documents),
      canon AS (
        SELECT doc_id,
          'http://'
          || regexp_replace(
               regexp_replace(
                 lower(regexp_extract(raw_url, '{_RE_SCHEME_HOST}', 1)),
                 '{_RE_PORT}', ''),
               '{_RE_WWW}', '')
          || regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(raw_url, '{_RE_AFTER_HOST}', ''),
                   '{_RE_FRAGMENT}', ''),
                 '{_RE_UTM}', '', 'g'),
               '{_RE_DANGLING}', '') AS canon_url
        FROM raw)
      SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dups,
             min(doc_id) AS keeper_id
      FROM canon GROUP BY canon_url
    """


# ------------------------------------------------------ data-quality gate --

def check_expectations(df: "DataFrame", specs: list) -> "DataFrame":
    """Declared-expectation checks over an arbitrary table — the
    production engine behind the qa_expectations gate key (parity
    pytest-pinned): evaluate every spec in ONE aggregate pass and
    return (exp_name, n_checked, n_violations).

    specs is a list of tuples:
      ("not_null", col)            — col must not be NULL
      ("range_min", col, lo)       — col >= lo (NULLs not counted here)
      ("in_set", col, [v, ...])    — col within the value set
      ("regexp", col, pattern)     — col rlike pattern
      ("unique", col)              — no duplicate values of col

    Scale shape: row-local specs are sibling conditional aggregates on
    one scan; each "unique" adds a count(DISTINCT col) to the SAME
    aggregate (one Expand per distinct column — swap for the HLL sketch
    at 10^12 rows, the profile_table trade)."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    names = []
    for i, spec in enumerate(specs):
        kind, col = spec[0], spec[1]
        if kind == "not_null":
            cond = F.col(col).isNull()
            name = f"not_null:{col}"
        elif kind == "range_min":
            cond = F.col(col) < F.lit(spec[2])
            name = f"range:{col}>={spec[2]}"
        elif kind == "in_set":
            cond = ~F.col(col).isin(*spec[2])
            name = f"in_set:{col}"
        elif kind == "regexp":
            cond = ~F.col(col).rlike(spec[2])
            name = f"regexp:{col}"
        elif kind == "unique":
            aggs.append(
                (F.count(F.lit(1)) - F.count_distinct(F.col(col)))
                .cast("bigint").alias(f"v{i}")
            )
            names.append((f"unique:{col}", f"v{i}"))
            continue
        else:
            raise ValueError(f"unknown expectation kind {kind!r}")
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"v{i}")
        )
        names.append((name, f"v{i}"))
    agg = df.agg(*aggs)
    pairs = ", ".join(f"'{n}', {v}" for n, v in names)
    return agg.select(
        F.expr(f"stack({len(names)}, {pairs})"
               " AS (exp_name, n_violations)"),
        F.col("n_rows").alias("n_checked"),
    ).select("exp_name", "n_checked", "n_violations")


# ------------------------------------------------------- crawl policy layer
# The admission-control screens a Common-Crawl-style fetch loop runs
# BEFORE a page's bytes enter the pipeline: robots.txt allow/deny
# (politeness/legal), sitemap URL discovery (the publisher-declared
# frontier feed), and magic-byte content sniffing (route HTML to the
# text pipeline, everything else (images, archives) to quarantine —
# servers lie in Content-Type headers, so production sniffs payload
# bytes). All inputs are planted in-query from the documents table (the
# url_canon_dedup idiom) so both engines derive identical fixtures.

ROBOTS_HOSTS = 7  # planted host count (doc_id % ROBOTS_HOSTS)


def crawl_robots(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt URL admission — longest-match-wins with allow beating
    disallow on ties (the REP rule, RFC 9309 §2.2.2). Planted fixture:
    7 hosts x 5 path classes; every host disallows /private but allows
    the /private/ok subtree (longest-match override), even hosts
    disallow /tmp, and every third host is blanket-disallowed ('/')
    with only /public rescued — so default-allow (no matching rule),
    prefix override, and blanket-deny-with-rescue are all exercised.

    Scale shape: the rule table is crawl-config-sized (hosts x a few
    prefixes) and BROADCAST; the frontier never shuffles for the join.
    The winner is a groupBy max(struct(rule_len, allow)) — map-side
    combinable, no window over the 10^12-row frontier. Struct-max ties
    ((len, allow) equal) can only arise from rules with identical
    effect, so the decision is deterministic."""
    d = _docs(spark, sf).select(
        "doc_id", (F.col("doc_id") % ROBOTS_HOSTS).alias("h")
    )
    path = F.expr(
        "CASE CAST(doc_id % 5 AS INT)"
        "  WHEN 0 THEN concat('/private/data/', doc_id)"
        "  WHEN 1 THEN concat('/private/ok/', doc_id)"
        "  WHEN 2 THEN concat('/public/page/', doc_id)"
        "  WHEN 3 THEN concat('/tmp/cache/', doc_id)"
        "  ELSE concat('/index/', doc_id) END"
    )
    frontier = d.select(
        "doc_id", "h",
        F.concat(F.lit("site"), F.col("h").cast("string")).alias("host"),
        path.alias("path"),
    )
    hosts = frontier.select("h").distinct()

    def _rule(df, prefix: str, allow: int):
        return df.select(
            F.col("h").alias("rh"),
            F.lit(prefix).alias("prefix"),
            F.lit(allow).alias("allow"),
        )

    rules = (
        _rule(hosts, "/private", 0)
        .unionAll(_rule(hosts, "/private/ok", 1))
        .unionAll(_rule(hosts.filter(F.col("h") % 2 == 0), "/tmp", 0))
        .unionAll(_rule(hosts.filter(F.col("h") % 3 == 0), "/", 0))
        .unionAll(_rule(hosts.filter(F.col("h") % 3 == 0), "/public", 1))
    )
    matched = frontier.join(
        F.broadcast(rules),
        (F.col("h") == F.col("rh")) & F.expr("startswith(path, prefix)"),
        "left",
    )
    win = F.max(
        F.struct(
            F.length("prefix").alias("l"), F.col("allow").alias("a")
        )
    ).alias("win")
    out = matched.groupBy("doc_id", "host", "path").agg(win)
    return out.select(
        "doc_id", "host", "path",
        F.coalesce(F.col("win.a"), F.lit(1)).cast("int").alias("allowed"),
        F.coalesce(F.col("win.l"), F.lit(0)).cast("int").alias("rule_len"),
    )


def crawl_robots_sql() -> str:
    return f"""
      WITH f AS (
        SELECT doc_id, doc_id % {ROBOTS_HOSTS} AS h,
          'site' || CAST(doc_id % {ROBOTS_HOSTS} AS VARCHAR) AS host,
          CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN '/private/data/' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN '/public/page/' || CAST(doc_id AS VARCHAR)
            WHEN 3 THEN '/tmp/cache/' || CAST(doc_id AS VARCHAR)
            ELSE '/index/' || CAST(doc_id AS VARCHAR) END AS path
        FROM documents),
      hosts AS (SELECT DISTINCT h FROM f),
      rules AS (
        SELECT h AS rh, '/private' AS prefix, 0 AS allow FROM hosts
        UNION ALL SELECT h, '/private/ok', 1 FROM hosts
        UNION ALL SELECT h, '/tmp', 0 FROM hosts WHERE h % 2 = 0
        UNION ALL SELECT h, '/', 0 FROM hosts WHERE h % 3 = 0
        UNION ALL SELECT h, '/public', 1 FROM hosts WHERE h % 3 = 0),
      m AS (
        SELECT f.doc_id, f.host, f.path,
               length(r.prefix) AS l, r.allow AS a
        FROM f LEFT JOIN rules r
          ON f.h = r.rh AND starts_with(f.path, r.prefix)),
      g AS (SELECT doc_id, host, path, max(l) AS ml FROM m
            GROUP BY 1, 2, 3)
      SELECT g.doc_id, g.host, g.path,
             CAST(coalesce(
               max(CASE WHEN m.l = g.ml THEN m.a END), 1) AS INT)
               AS allowed,
             CAST(coalesce(g.ml, 0) AS INT) AS rule_len
      FROM g JOIN m ON m.doc_id = g.doc_id
        AND (m.l = g.ml OR (m.l IS NULL AND g.ml IS NULL))
      GROUP BY g.doc_id, g.host, g.path, g.ml
    """


def crawl_sitemap(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap URL discovery — parse <loc> entries out of sitemap-XML
    bodies into frontier rows (the publisher-declared complement to the
    link-graph frontier, weblinks.next_frontier). One sitemap body per
    planted host, synthesized in-query from the documents table with a
    DETERMINISTIC member order (array_sort on (doc_id, entry) structs —
    collect_list order alone is partition-dependent, the agg_stringagg
    landmine); extraction is regexp_extract_all over the portable
    Java∩RE2 subset, then explode.

    Scale shape: real sitemap bodies arrive one-per-fetch (protocol-capped
    at 50k URLs / 50 MB each, so a row is bounded); the regexp runs
    JVM-side per body row and the explode fans out with NO shuffle. The
    groupBy-listagg here exists only to synthesize the fixture in-engine —
    production never builds the bodies, it fetches them."""
    e = _docs(spark, sf).select(
        "doc_id",
        (F.col("doc_id") % ROBOTS_HOSTS).alias("h"),
        F.expr(
            "concat('<url><loc>https://site', doc_id % 7, '/page/',"
            " doc_id, '</loc><lastmod>2026-07-',"
            " lpad(cast(doc_id % 28 + 1 as string), 2, '0'),"
            " '</lastmod></url>')"
        ).alias("entry"),
    )
    body = F.concat(
        F.lit("<urlset>"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id").alias("i"),
                            F.col("entry").alias("e"),
                        )
                    )
                ),
                lambda s: s["e"],
            ),
            "",
        ),
        F.lit("</urlset>"),
    ).alias("body")
    maps = e.groupBy("h").agg(body)
    parsed = maps.select(
        "h",
        F.expr(
            r"regexp_extract_all(body, '<loc>([^<]+)</loc>', 1)"
        ).alias("locs"),
    )
    return parsed.select(
        F.concat(F.lit("site"), F.col("h").cast("string")).alias("host"),
        F.explode("locs").alias("loc_url"),
        F.size("locs").cast("int").alias("n_locs"),
    )


def crawl_sitemap_sql() -> str:
    return f"""
      WITH e AS (
        SELECT doc_id, doc_id % {ROBOTS_HOSTS} AS h,
          '<url><loc>https://site' || CAST(doc_id % 7 AS VARCHAR)
          || '/page/' || CAST(doc_id AS VARCHAR)
          || '</loc><lastmod>2026-07-'
          || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
          || '</lastmod></url>' AS entry
        FROM documents),
      maps AS (
        SELECT h, '<urlset>' || string_agg(entry, '' ORDER BY doc_id)
               || '</urlset>' AS body
        FROM e GROUP BY h),
      parsed AS (
        SELECT h,
          regexp_extract_all(body, '<loc>([^<]+)</loc>', 1) AS locs
        FROM maps)
      SELECT 'site' || CAST(h AS VARCHAR) AS host,
             unnest(locs) AS loc_url,
             CAST(len(locs) AS INT) AS n_locs
      FROM parsed
    """


SITEMAP_SHARDS = 3  # planted sub-sitemaps per host (50k-URL cap shards)


def crawl_sitemap_index(spark: SparkSession, sf: str) -> DataFrame:
    """Two-level sitemap protocol — real sites shard their URL lists
    under a sitemapindex (the 50k-URL/50MB caps force it): parse the
    index for <sitemap><loc> entries, JOIN each to its fetched
    sub-sitemap body (certifying the index's loc strings actually
    resolve), then extract the page <loc>s — (host, sitemap_url,
    loc_url) rows proving every page landed in its declared shard
    (doc_id % SITEMAP_SHARDS). Same portable regexp/explode machinery
    as C3'; the recursion adds the index parse + one equi-join.

    Scale shape: index and shard bodies are protocol-capped rows; the
    shard join is url-equi (broadcastable — an index is config-sized
    per host); explodes fan out shuffle-free. The listagg exists only
    to synthesize fixtures in-engine (C3' note)."""
    e = _docs(spark, sf).select(
        "doc_id",
        (F.col("doc_id") % ROBOTS_HOSTS).alias("h"),
        (F.col("doc_id") % SITEMAP_SHARDS).alias("j"),
        F.expr(
            "concat('<url><loc>https://site', doc_id % 7, '/page/',"
            " doc_id, '</loc></url>')"
        ).alias("entry"),
    )
    listagg = F.concat(
        F.lit("<urlset>"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id").alias("i"),
                            F.col("entry").alias("e"),
                        )
                    )
                ),
                lambda x: x["e"],
            ),
            "",
        ),
        F.lit("</urlset>"),
    )
    subs = e.groupBy("h", "j").agg(listagg.alias("body")).select(
        F.expr(
            "concat('https://site', h, '/sm', j, '.xml')"
        ).alias("sm_url_b"),
        "body",
    )
    hosts = e.select("h").distinct()
    idx_body = F.concat(
        F.lit("<sitemapindex>"),
        F.concat_ws(
            "",
            *[
                F.concat(
                    F.lit("<sitemap><loc>https://site"),
                    F.col("h").cast("string"),
                    F.lit(f"/sm{j}.xml</loc></sitemap>"),
                )
                for j in range(SITEMAP_SHARDS)
            ],
        ),
        F.lit("</sitemapindex>"),
    )
    sm_urls = hosts.select("h", idx_body.alias("ibody")).select(
        "h",
        F.explode(
            F.expr(
                r"regexp_extract_all(ibody, '<loc>([^<]+)</loc>', 1)"
            )
        ).alias("sm_url"),
    )
    joined = sm_urls.join(
        subs, sm_urls["sm_url"] == subs["sm_url_b"]
    )
    return joined.select(
        F.concat(F.lit("site"), F.col("h").cast("string")).alias("host"),
        F.col("sm_url").alias("sitemap_url"),
        F.explode(
            F.expr(
                r"regexp_extract_all(body, '<loc>([^<]+)</loc>', 1)"
            )
        ).alias("loc_url"),
    )


def crawl_sitemap_index_sql() -> str:
    sm_entries = " || ".join(
        f"'<sitemap><loc>https://site' || CAST(h AS VARCHAR)"
        f" || '/sm{j}.xml</loc></sitemap>'"
        for j in range(SITEMAP_SHARDS)
    )
    return f"""
      WITH e AS (
        SELECT doc_id, doc_id % {ROBOTS_HOSTS} AS h,
               doc_id % {SITEMAP_SHARDS} AS j,
               '<url><loc>https://site' || CAST(doc_id % 7 AS VARCHAR)
               || '/page/' || CAST(doc_id AS VARCHAR)
               || '</loc></url>' AS entry
        FROM documents),
      subs AS (
        SELECT 'https://site' || CAST(h AS VARCHAR) || '/sm'
               || CAST(j AS VARCHAR) || '.xml' AS sm_url_b,
               '<urlset>' || string_agg(entry, '' ORDER BY doc_id)
               || '</urlset>' AS body
        FROM e GROUP BY h, j),
      hosts AS (SELECT DISTINCT h FROM e),
      idx AS (
        SELECT h, '<sitemapindex>' || {sm_entries}
               || '</sitemapindex>' AS ibody
        FROM hosts),
      sm_urls AS (
        SELECT h, unnest(regexp_extract_all(
                 ibody, '<loc>([^<]+)</loc>', 1)) AS sm_url
        FROM idx),
      joined AS (
        SELECT u.h, u.sm_url, s.body
        FROM sm_urls u JOIN subs s ON s.sm_url_b = u.sm_url)
      SELECT 'site' || CAST(h AS VARCHAR) AS host,
             sm_url AS sitemap_url,
             unnest(regexp_extract_all(
               body, '<loc>([^<]+)</loc>', 1)) AS loc_url
      FROM joined
    """


# (magic hex, mime) rows: the payload-byte signatures the sniffer keys
# on; classes are planted by doc_id % 7 (class 6 = unknown junk).
MIME_MAGIC = [
    ("255044462D312E35", "application/pdf"),       # %PDF-1.5
    ("89504E470D0A1A0A", "image/png"),
    ("474946383961AA00", "image/gif"),             # GIF89a + payload
    ("FFD8FFE000104A46", "image/jpeg"),            # SOI + APP0 'JF'
    ("504B030414000000", "application/zip"),
    ("3C21444F43545950", "text/html"),             # <!DOCTYP
    ("0011223344556677", "application/octet-stream"),
]


def crawl_mime_sniff(spark: SparkSession, sf: str) -> DataFrame:
    """Magic-byte content sniffing — classify fetched payloads by their
    leading bytes, never by the server's Content-Type header (which lies;
    the WHATWG MIME-sniffing posture). The Spark side does the honest
    binary round-trip: build the payload BLOB with unhex, slice the
    binary prefix with substring (binary in, binary out), classify on
    hex() of the slice — exactly what runs over a real (url, content
    binary) crawl table. The oracle certifies the same classification
    from the hex plane: the engines agree on the DECISION, each deriving
    it from its own byte handling.

    Scale shape: pure per-row codegen over the payload's first 8 bytes —
    no shuffle, no Python, independent of payload size (substring of a
    binary column reads the prefix, not the blob)."""
    hexes = " ".join(
        f"WHEN {i} THEN '{h}'" for i, (h, _) in enumerate(MIME_MAGIC)
    )
    d = _docs(spark, sf).select(
        "doc_id",
        F.expr(
            f"unhex(CASE CAST(doc_id % {len(MIME_MAGIC)} AS INT)"
            f" {hexes} END)"
        ).alias("bin"),
    )
    p3 = F.hex(F.expr("substring(bin, 1, 3)"))
    p4 = F.hex(F.expr("substring(bin, 1, 4)"))
    p6 = F.hex(F.expr("substring(bin, 1, 6)"))
    mime = (
        F.when(p4 == "25504446", F.lit("application/pdf"))
        .when(p4 == "89504E47", F.lit("image/png"))
        .when(p6 == "474946383961", F.lit("image/gif"))
        .when(p3 == "FFD8FF", F.lit("image/jpeg"))
        .when(p4 == "504B0304", F.lit("application/zip"))
        .when(p4 == "3C21444F", F.lit("text/html"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return d.select(
        "doc_id",
        mime.alias("mime"),
        F.length("bin").cast("int").alias("payload_len"),
    )


def crawl_mime_sniff_sql() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{h}'" for i, (h, _) in enumerate(MIME_MAGIC)
    )
    return f"""
      WITH p AS (
        SELECT doc_id,
          CASE CAST(doc_id % {len(MIME_MAGIC)} AS INT) {whens} END AS hx
        FROM documents)
      SELECT doc_id,
        CASE
          WHEN hx LIKE '25504446%' THEN 'application/pdf'
          WHEN hx LIKE '89504E47%' THEN 'image/png'
          WHEN hx LIKE '474946383961%' THEN 'image/gif'
          WHEN hx LIKE 'FFD8FF%' THEN 'image/jpeg'
          WHEN hx LIKE '504B0304%' THEN 'application/zip'
          WHEN hx LIKE '3C21444F%' THEN 'text/html'
          ELSE 'application/octet-stream' END AS mime,
        CAST(length(hx) // 2 AS INT) AS payload_len
      FROM p
    """


# Public-suffix slice for eTLD+1 extraction: the planted PSL. Real
# deployments broadcast the full ~9k-entry list; the algebra (longest
# suffix match + one more label) is identical.
PSL_SUFFIXES = ["com", "org", "net", "io", "uk", "co.uk", "gov.uk",
                "au", "com.au"]
_ETLD_SUBS = ["", "www", "api", "cdn"]
_ETLD_DOMS = ["example", "shop", "news", "blog", "wiki"]
_ETLD_SUFS = ["com", "org", "co.uk", "com.au", "io", "gov.uk", "xyz"]


def crawl_etld1(spark: SparkSession, sf: str) -> DataFrame:
    """eTLD+1 (registrable domain) extraction — how a crawler actually
    groups hosts: politeness, dedup, and authority all key on the
    REGISTRABLE domain, not the host ('a.shop.co.uk' and 'b.shop.co.uk'
    are one site; 'co.uk' alone is not a site). Longest-match against
    the public-suffix list: each host explodes into its ≤3 dot-suffix
    candidates (bounded by label count, never data-sized), candidates
    equi-join the broadcast PSL, the longest proper match wins
    (max_by over suffix label count), and unknown TLDs fall back to the
    last-label-is-suffix default (the PSL's own rule '*'). Hosts planted
    from doc_id over sub×domain×suffix cycles, including the unknown
    'xyz' arm and suffix-only never-registrable cases via the proper-
    match guard (i < n_labels)."""
    subs = F.array(*[F.lit(s) for s in _ETLD_SUBS])
    doms = F.array(*[F.lit(s) for s in _ETLD_DOMS])
    sufs = F.array(*[F.lit(s) for s in _ETLD_SUFS])
    hosts = _docs(spark, sf).select(
        "doc_id",
        F.concat_ws(
            ".",
            F.when(
                F.element_at(subs, (F.col("doc_id") % 4 + 1).cast("int"))
                != "",
                F.element_at(subs, (F.col("doc_id") % 4 + 1).cast("int")),
            ),
            F.element_at(doms, (F.col("doc_id") % 5 + 1).cast("int")),
            F.element_at(sufs, (F.col("doc_id") % 7 + 1).cast("int")),
        ).alias("host"),
    ).withColumn("labels", F.split("host", "\\.")) \
        .withColumn("n", F.size("labels"))
    psl = spark.createDataFrame(
        [(s,) for s in PSL_SUFFIXES], "suffix string"
    )
    cand = (
        hosts
        .withColumn("ci", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
        .filter(F.col("ci") < F.col("n"))  # proper suffix: ≥1 label left
        .withColumn(
            "cand", F.expr("array_join(slice(labels, -ci, ci), '.')")
        )
        .join(F.broadcast(psl), F.col("cand") == F.col("suffix"))
        .groupBy("doc_id")
        .agg(F.max(F.struct(F.col("ci"), F.col("cand"))).alias("best"))
        .select("doc_id", F.col("best.ci").alias("mi"),
                F.col("best.cand").alias("metld"))
    )
    return (
        hosts.join(cand, "doc_id", "left")
        .select(
            "doc_id", "host",
            F.coalesce(
                F.col("metld"), F.expr("element_at(labels, -1)")
            ).alias("etld"),
            F.coalesce(
                F.expr("array_join(slice(labels, -(mi + 1), mi + 1), '.')"),
                F.expr("array_join(slice(labels, -2, 2), '.')"),
            ).alias("registrable"),
            F.coalesce(F.col("mi"), F.lit(1)).cast("int")
            .alias("n_suffix_labels"),
        )
    )


def crawl_etld1_sql() -> str:
    subs = ", ".join(f"'{s}'" for s in _ETLD_SUBS)
    doms = ", ".join(f"'{s}'" for s in _ETLD_DOMS)
    sufs = ", ".join(f"'{s}'" for s in _ETLD_SUFS)
    psl = ", ".join(f"('{s}')" for s in PSL_SUFFIXES)
    return f"""
      WITH hosts AS (
        SELECT doc_id,
               array_to_string(list_filter([
                 [{subs}][CAST(doc_id % 4 AS INT) + 1],
                 [{doms}][CAST(doc_id % 5 AS INT) + 1],
                 [{sufs}][CAST(doc_id % 7 AS INT) + 1]
               ], x -> x <> ''), '.') AS host
        FROM documents),
      lab AS (
        SELECT doc_id, host, string_split(host, '.') AS labels,
               len(string_split(host, '.')) AS n
        FROM hosts),
      cand AS (
        SELECT l.doc_id, ci.ci,
               array_to_string(l.labels[-ci.ci:], '.') AS cand
        FROM lab l, (VALUES (1), (2), (3)) ci(ci)
        WHERE ci.ci < l.n),
      matched AS (
        SELECT c.doc_id,
               max(c.ci) AS mi,
               max_by(c.cand, c.ci) AS metld
        FROM cand c JOIN (VALUES {psl}) p(suffix)
          ON c.cand = p.suffix
        GROUP BY c.doc_id)
      SELECT l.doc_id, l.host,
             COALESCE(m.metld, l.labels[-1]) AS etld,
             COALESCE(array_to_string(l.labels[-(m.mi + 1):], '.'),
                      array_to_string(l.labels[-2:], '.')) AS registrable,
             CAST(COALESCE(m.mi, 1) AS INT) AS n_suffix_labels
      FROM lab l LEFT JOIN matched m USING (doc_id)
    """


ROBOTS_UA = "*"   # the agent token our group selection matches


def crawl_robots_parse(spark: SparkSession, sf: str) -> DataFrame:
    """robots.txt TEXT parsing — the step before C2's admission: turn
    fetched robots.txt bodies into the (host, prefix, allow) rule table
    robots_admit consumes. RFC 9309 group semantics, JVM-side only:
    comments stripped (#...), lines split+exploded with position,
    consecutive User-agent lines open ONE group (group id = running
    count of UA-run starts, a lag+cumsum window), a group applies when
    any of its UA lines names our token, and only Allow/Disallow lines
    of applicable groups become rules (empty-prefix Disallow — "allow
    everything" — emits no rule, matching robots_admit's default-allow).
    Planted bodies give every host a decoy group for another agent
    (must be SKIPPED), a multi-UA group header, comment/blank noise, and
    host-dependent rules; the output is exactly the C2 fixture's rule
    table (parity pytest closes fetch -> parse -> admit -> schedule).

    Scale shape: one body row per host (robots.txt is capped at 500 KiB
    by the RFC); split/explode fans lines out with no shuffle; the two
    windows partition by host — bounded by lines-per-file, never
    corpus-wide."""
    from pyspark.sql.window import Window

    hosts = (
        _docs(spark, sf)
        .select((F.col("doc_id") % ROBOTS_HOSTS).alias("h"))
        .distinct()
    )
    body = F.concat(
        F.lit("# robots.txt\nUser-agent: otherbot\n"
              "Disallow: /only-for-otherbot\n\n"
              "User-agent: helperbot\nUser-agent: *\n"
              "Disallow: /private  # keep out\n"
              "Allow: /private/ok\n"),
        F.when(F.col("h") % 2 == 0, F.lit("Disallow: /tmp\n"))
        .otherwise(F.lit("")),
        F.when(F.col("h") % 3 == 0,
               F.lit("Disallow: /\nAllow: /public\n"))
        .otherwise(F.lit("")),
        F.lit("Disallow:\n"),   # empty prefix: allow-all, no rule
    )
    lines = hosts.select(
        "h", F.posexplode(F.split(body, "\n")).alias("ln", "raw")
    ).select(
        "h", "ln",
        F.trim(F.regexp_replace("raw", "#.*", "")).alias("line"),
    )
    kind = (
        F.when(F.lower("line").rlike("^user-agent:"), F.lit("ua"))
        .when(F.lower("line").rlike("^disallow:"), F.lit("dis"))
        .when(F.lower("line").rlike("^allow:"), F.lit("alw"))
        .otherwise(F.lit(""))
    )
    # strip at the FIRST colon (a path like /a:b must survive intact)
    val = F.trim(F.regexp_replace("line", "^[^:]*:", ""))
    typed = lines.select(
        "h", "ln", kind.alias("kind"), val.alias("val")
    ).filter(F.col("kind") != "")
    w = Window.partitionBy("h").orderBy("ln")
    grouped = typed.select(
        "h", "ln", "kind", "val",
        F.sum(
            F.when(
                (F.col("kind") == "ua")
                & (F.coalesce(F.lag("kind").over(w), F.lit("x")) != "ua"),
                1,
            ).otherwise(0)
        ).over(w).alias("grp"),
    )
    ours = (
        grouped.filter(
            (F.col("kind") == "ua") & (F.col("val") == ROBOTS_UA)
        )
        .select("h", "grp")
        .distinct()
    )
    return (
        grouped.join(ours, ["h", "grp"])
        .filter(F.col("kind").isin("dis", "alw") & (F.col("val") != ""))
        .select(
            F.concat(F.lit("site"), F.col("h").cast("string"))
            .alias("host"),
            F.col("val").alias("prefix"),
            F.when(F.col("kind") == "alw", 1).otherwise(0)
            .cast("int").alias("allow"),
        )
    )


def crawl_robots_parse_sql() -> str:
    return f"""
      WITH hosts AS (
        SELECT DISTINCT doc_id % {ROBOTS_HOSTS} AS h FROM documents),
      bodies AS (
        SELECT h,
          '# robots.txt' || chr(10) || 'User-agent: otherbot'
          || chr(10) || 'Disallow: /only-for-otherbot' || chr(10)
          || chr(10) || 'User-agent: helperbot' || chr(10)
          || 'User-agent: *' || chr(10)
          || 'Disallow: /private  # keep out' || chr(10)
          || 'Allow: /private/ok' || chr(10)
          || CASE WHEN h % 2 = 0
                  THEN 'Disallow: /tmp' || chr(10) ELSE '' END
          || CASE WHEN h % 3 = 0
                  THEN 'Disallow: /' || chr(10)
                       || 'Allow: /public' || chr(10) ELSE '' END
          || 'Disallow:' || chr(10) AS body
        FROM hosts),
      lines AS (
        SELECT h, ln,
               trim(regexp_replace(raw, '#.*', '')) AS line
        FROM (SELECT h,
                     unnest(split(body, chr(10))) AS raw,
                     generate_subscripts(split(body, chr(10)), 1) AS ln
              FROM bodies) t),
      typed AS (
        SELECT h, ln,
               CASE WHEN lower(line) LIKE 'user-agent:%' THEN 'ua'
                    WHEN lower(line) LIKE 'disallow:%' THEN 'dis'
                    WHEN lower(line) LIKE 'allow:%' THEN 'alw'
                    ELSE '' END AS kind,
               trim(regexp_replace(line, '^[^:]*:', '')) AS val
        FROM lines
        WHERE lower(line) LIKE 'user-agent:%'
           OR lower(line) LIKE 'disallow:%'
           OR lower(line) LIKE 'allow:%'),
      marked AS (
        SELECT h, ln, kind, val,
               CASE WHEN kind = 'ua' AND
                    coalesce(lag(kind) OVER
                      (PARTITION BY h ORDER BY ln), 'x') <> 'ua'
                    THEN 1 ELSE 0 END AS is_start
        FROM typed),
      grouped AS (
        SELECT h, ln, kind, val,
               sum(is_start) OVER (PARTITION BY h ORDER BY ln) AS grp
        FROM marked),
      ours AS (
        SELECT DISTINCT h, grp FROM grouped
        WHERE kind = 'ua' AND val = '{ROBOTS_UA}')
      SELECT 'site' || CAST(g.h AS VARCHAR) AS host,
             g.val AS prefix,
             CAST(CASE WHEN g.kind = 'alw' THEN 1 ELSE 0 END AS INT)
               AS allow
      FROM grouped g JOIN ours o ON o.h = g.h AND o.grp = g.grp
      WHERE g.kind IN ('dis', 'alw') AND g.val <> ''
    """


REDIRECT_CAP = 4  # max hops followed (browsers cap ~20; plant max chain 3)


def resolve_redirect_chains(
    nodes: DataFrame, edges: DataFrame, cap: int = REDIRECT_CAP
) -> DataFrame:
    """The redirect walk over arbitrary tables: nodes(doc_id), edges
    (src, dst — at most one outgoing per src, the HTTP Location
    function). Returns (u, cur, hops, pending): terminal target after
    following up to `cap` hops, with `pending` true when the walk was
    cut by the cap (loop or over-long chain). Iteration state is the
    REDIRECTING urls only; terminals union in once — see crawl_redirects
    for the scale discussion. Used by both the gate key and the scale
    exercise (jobs/bench_redirects.py)."""
    state = edges.select(
        F.col("src").alias("u"),
        F.col("dst").alias("cur"),
        F.lit(1).cast("int").alias("hops"),
    )
    for _ in range(cap - 1):
        state = state.join(
            edges, state["cur"] == edges["src"], "left"
        ).select(
            "u",
            F.coalesce("dst", "cur").alias("cur"),
            (
                F.col("hops")
                + F.when(F.col("dst").isNotNull(), 1).otherwise(0)
            ).cast("int").alias("hops"),
        )
    resolved = state.join(
        edges, state["cur"] == edges["src"], "left"
    ).select(
        "u", "cur", "hops",
        F.col("dst").isNotNull().alias("pending"),
    )
    terminals = nodes.join(
        edges.select(F.col("src").alias("doc_id")), "doc_id", "anti"
    ).select(
        F.col("doc_id").alias("u"),
        F.col("doc_id").alias("cur"),
        F.lit(0).cast("int").alias("hops"),
        F.lit(False).alias("pending"),
    )
    return resolved.unionAll(terminals)


def _redirect_next_expr() -> "F.Column":
    """The planted Location function (classes by doc_id%10) — shared by
    the gate key and the scale exercise so both walk the same graph
    family."""
    return F.expr(
        "CASE CAST(doc_id % 10 AS INT)"
        "  WHEN 6 THEN doc_id - 6"
        "  WHEN 7 THEN doc_id - 1"
        "  WHEN 8 THEN doc_id - 1"
        "  WHEN 9 THEN CASE CAST(doc_id % 100 AS INT)"
        "    WHEN 49 THEN doc_id + 50"
        "    WHEN 99 THEN doc_id - 50"
        "    ELSE doc_id END"
        "  ELSE NULL END"
    )


def crawl_redirects(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP redirect-chain resolution — follow each URL's 3xx Location
    chain to its terminal target, with the hop cap every real fetcher
    enforces (ERR_TOO_MANY_REDIRECTS posture: a loop is indistinguishable
    from a too-long chain at the fetch layer, so both surface as
    status='too_many_redirects'). Planted functional graph by doc_id%10:
    classes 0-5 terminal (status 'ok'), 6/7/8 chains of exactly 1/2/3
    hops into a terminal ('redirected'), 9 self-loops except two members
    per hundred that form a 2-cycle — so chain-walking, loop, and cycle
    cases all exercise the cap.

    Scale shape: the iteration state is |REDIRECTING urls| only (the
    chain walk starts FROM the edge table; terminals ride in via one
    final union) — at 10^12 pages that's the ~3% of the crawl index with
    3xx status, not the corpus. Each round is one equi-join against the
    redirect edges; a 30-hop production cap swaps the linear walk for
    pointer doubling (log2 rounds — the kg_property_path machinery)."""
    d = _docs(spark, sf).select("doc_id")
    edges = d.select(
        F.col("doc_id").alias("src"), _redirect_next_expr().alias("dst")
    ).filter(F.col("dst").isNotNull())
    allrows = resolve_redirect_chains(d, edges, REDIRECT_CAP)
    status = (
        F.when(F.col("pending"), F.lit("too_many_redirects"))
        .when(F.col("hops") == 0, F.lit("ok"))
        .otherwise(F.lit("redirected"))
    )
    return allrows.select(
        F.concat(F.lit("https://u/"), F.col("u").cast("string"))
        .alias("url"),
        F.concat(F.lit("https://u/"), F.col("cur").cast("string"))
        .alias("terminal_url"),
        "hops",
        status.alias("status"),
    )


def crawl_redirects_sql() -> str:
    steps = []
    for i in range(1, REDIRECT_CAP):
        steps.append(
            f"""s{i + 1} AS (
        SELECT s.u, coalesce(e.dst, s.cur) AS cur,
               CAST(s.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END
                    AS INT) AS hops
        FROM s{i} s LEFT JOIN edges e ON e.src = s.cur)"""
        )
    chain = ",\n      ".join(steps)
    return f"""
      WITH edges AS (
        SELECT doc_id AS src,
          CASE CAST(doc_id % 10 AS INT)
            WHEN 6 THEN doc_id - 6
            WHEN 7 THEN doc_id - 1
            WHEN 8 THEN doc_id - 1
            WHEN 9 THEN CASE CAST(doc_id % 100 AS INT)
              WHEN 49 THEN doc_id + 50
              WHEN 99 THEN doc_id - 50
              ELSE doc_id END
            ELSE NULL END AS dst
        FROM documents
        WHERE doc_id % 10 >= 6),
      s1 AS (SELECT src AS u, dst AS cur, CAST(1 AS INT) AS hops
             FROM edges),
      {chain},
      resolved AS (
        SELECT s.u, s.cur, s.hops, e.dst IS NOT NULL AS pending
        FROM s{REDIRECT_CAP} s LEFT JOIN edges e ON e.src = s.cur),
      allrows AS (
        SELECT * FROM resolved
        UNION ALL
        SELECT doc_id, doc_id, CAST(0 AS INT), FALSE
        FROM documents WHERE doc_id % 10 < 6)
      SELECT 'https://u/' || CAST(u AS VARCHAR) AS url,
             'https://u/' || CAST(cur AS VARCHAR) AS terminal_url,
             hops,
             CASE WHEN pending THEN 'too_many_redirects'
                  WHEN hops = 0 THEN 'ok'
                  ELSE 'redirected' END AS status
      FROM allrows
    """


CRAWL_DELAY_BASE_MS = 500  # planted per-host delay = (h%3+1) * base


def crawl_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness fetch scheduling — the WHEN that follows crawl_robots's
    CAN: assign each admitted URL a per-host fetch slot (highest planted
    priority first, doc_id tiebreak) and a fetch timestamp at
    slot x that host's crawl-delay. Per-host serialization is the
    SEMANTICS here, not a plan defect: politeness means one fetch per
    host per delay window, so the row_number over the host partition is
    inherent.

    Scale shape: one host-partitioned window — the hot-host skew case is
    exactly the salted/prefix-sum territory fn_rank_global covers, but a
    polite per-host queue is bounded by (crawl window / delay) fetches
    anyway, so real frontiers cap the per-host queue BEFORE scheduling
    (the tiered cut crawl_revisit emits)."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf).select(
        "doc_id",
        (F.col("doc_id") % ROBOTS_HOSTS).alias("h"),
        (F.col("doc_id") % 13).alias("prio"),
    )
    w = (
        Window.partitionBy("h")
        .orderBy(F.col("prio").desc(), F.col("doc_id"))
    )
    delay = ((F.col("h") % 3 + 1) * CRAWL_DELAY_BASE_MS).cast("bigint")
    return d.select(
        "doc_id",
        F.concat(F.lit("site"), F.col("h").cast("string")).alias("host"),
        (F.row_number().over(w) - 1).cast("int").alias("slot"),
        ((F.row_number().over(w) - 1) * delay).cast("bigint")
        .alias("fetch_at_ms"),
    )


def crawl_schedule_sql() -> str:
    return f"""
      WITH f AS (
        SELECT doc_id, doc_id % {ROBOTS_HOSTS} AS h,
               doc_id % 13 AS prio
        FROM documents),
      s AS (
        SELECT doc_id, h,
          row_number() OVER (PARTITION BY h
                             ORDER BY prio DESC, doc_id) - 1 AS slot
        FROM f)
      SELECT doc_id, 'site' || CAST(h AS VARCHAR) AS host,
             CAST(slot AS INT) AS slot,
             CAST(slot * ((h % 3 + 1) * {CRAWL_DELAY_BASE_MS})
                  AS BIGINT) AS fetch_at_ms
      FROM s
    """


# --------------------------------------------------------------- chunking --

CHUNK_W = 32   # tokens per chunk (production: context-length sized, e.g. 2048)
CHUNK_T = 24   # stride (overlap = W - T = 8 tokens)


def txt_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking — the doc→chunk explode every
    RAG indexer and long-document training pipeline runs before embedding
    or packing: windows of CHUNK_W whitespace tokens at stride CHUNK_T
    (last chunk may be short; every doc emits ≥1 chunk). Emits the chunk
    MANIFEST (offsets + md5 of the chunk text) rather than the text
    itself — the join-back key a chunk store materializes.

    Scale shape: pure per-row codegen (split once into a column — the
    generate-inlining pitfall re-evaluates split() per element otherwise —
    then one explode over a sequence of chunk ids); no shuffle, no Python.
    Output rows = Σ ceil(tokens/stride): linear in corpus tokens."""
    toks = _docs(spark, sf).select(
        "doc_id", F.split("text", " ").alias("w")
    ).select("doc_id", "w", F.size("w").cast("long").alias("n"))
    n_chunks = F.when(F.col("n") <= CHUNK_W, F.lit(1).cast("long")).otherwise(
        F.expr(f"(n - {CHUNK_W} + {CHUNK_T} - 1) div {CHUNK_T}") + 1
    )
    ids = toks.select(
        "doc_id", "w", "n",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_T
    return ids.select(
        "doc_id",
        "chunk_id",
        start.alias("start_tok"),
        F.least(F.lit(CHUNK_W).cast("long"), F.col("n") - start).alias(
            "n_tok"),
        F.md5(
            F.array_join(F.slice("w", start + 1, F.lit(CHUNK_W)), " ")
            .cast("binary")
        ).alias("chunk_fp"),
    )


def txt_chunk_sql() -> str:
    w, t = CHUNK_W, CHUNK_T
    return f"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents),
      ids AS (
        SELECT doc_id, w, n,
               unnest(range(0, CASE WHEN n <= {w} THEN 1
                            ELSE (n - {w} + {t} - 1) // {t} + 1 END))
                 AS chunk_id
        FROM toks)
      SELECT doc_id, chunk_id, chunk_id * {t} AS start_tok,
             least({w}, n - chunk_id * {t}) AS n_tok,
             md5(array_to_string(
                   list_slice(w, chunk_id * {t} + 1, chunk_id * {t} + {w}),
                   ' ')) AS chunk_fp
      FROM ids
    """


# ---------------------------------------------------------------- packing --

PACK_BUDGET = 256  # tokens per packed training sequence (production: 2048+)


def txt_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-packing manifest (concat-and-chunk): within each
    (lang, source) shard, documents are concatenated in doc_id order and
    cut every PACK_BUDGET tokens — the standard packing step that turns a
    ragged document corpus into fixed-length training sequences with no
    padding waste. Emits per doc its token count, its start offset in the
    shard's token stream, and the first/last sequence ids it lands in
    (last_seq > first_seq ⇔ the doc spans a cut — the fraction a packing
    run monitors).

    Scale shape: one window cumsum per shard — shards ((lang, source), or
    file-sized splits in production) parallelize across the cluster and
    packing is by construction a per-shard operation (sequences never
    cross shard boundaries, so shard-local prefix sums are the SEMANTICS,
    not an approximation). All-integer arithmetic: exact bigint, no ulps.
    A single global stream at 10^12 docs instead uses pack_offsets_global
    below (two-phase prefix sum — pinned exact-equal to this window's
    cumsum by test)."""
    from pyspark.sql import Window

    d = _docs(spark, sf).select(
        "doc_id", "lang", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.withColumn(
        "start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).select(
        "doc_id", "lang", "source", "n_tokens", "start_off",
        F.expr(f"start_off div {PACK_BUDGET}").alias("first_seq"),
        F.expr(f"(start_off + n_tokens - 1) div {PACK_BUDGET}").alias(
            "last_seq"),
    )


def pack_offsets_global(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    id_col: str = "doc_id",
    n_col: str = "n_tokens",
) -> DataFrame:
    """GLOBAL-stream packing offsets — the 10^12-doc path the per-shard
    window of txt_pack_sequences cannot take (one global window = one
    partition = one task). Two-phase distributed prefix sum, the same
    mechanics as jobs/kg_tools._dense_entities: range-partition by id,
    per-partition token totals to the driver (n_partitions longs — the
    only driver traffic), prefix-sum them into per-partition stream
    offsets, broadcast back, and add a partition-local window cumsum.
    Range partitioning guarantees partition p's ids all sort before
    p+1's, so the result is EXACTLY the single-window cumsum at any
    parallelism (pytest-pinned against txt_pack_sequences' shape).

    Input: (id_col, n_col) rows. Returns them + start_off/first_seq/
    last_seq in global id order semantics."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = (
        docs.repartitionByRange(n_parts, id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (r["_pid"], r["t"])
        for r in parts.groupBy("_pid").agg(F.sum(n_col).alias("t")).collect()
    )
    offsets, acc = [], 0
    for pid, t in counts:
        offsets.append((pid, acc))
        acc += int(t)
    off_df = spark.createDataFrame(offsets or [(0, 0)], ["_pid", "_off"])
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        parts.withColumn("_local", F.coalesce(F.sum(n_col).over(w), F.lit(0)))
        .join(F.broadcast(off_df), "_pid")
        .select(
            id_col, n_col,
            (F.col("_off") + F.col("_local")).alias("start_off"),
        )
        .select(
            id_col, n_col, "start_off",
            F.expr(f"start_off div {budget}").alias("first_seq"),
            F.expr(f"(start_off + {n_col} - 1) div {budget}").alias(
                "last_seq"),
        )
    )
    return out


def txt_pack_sequences_sql() -> str:
    s = PACK_BUDGET
    return f"""
      WITH d AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      o AS (
        SELECT *,
               CAST(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY lang, source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS start_off
        FROM d)
      SELECT doc_id, lang, source, n_tokens, start_off,
             start_off // {s} AS first_seq,
             (start_off + n_tokens - 1) // {s} AS last_seq
      FROM o
    """



# ---------------------------------------------- token-entropy quality ------

# Shannon entropy of each document's token distribution — the Gopher-rules
# quality signal the ratio-based txt_quality key leaves out (gibberish and
# boilerplate sit at the entropy extremes). Determinism: JVM Math.log and
# libm ln disagree by 1 ulp on 64 of the first 4096 integers (measured —
# ln(3) already differs), so NO runtime log is evaluated in either engine.
# Instead ln(c) for c = 1..LN_TABLE_MAX is quantized ONCE in Python to
# integer nanonats (round(ln(c)*1e9)) and embedded as the SAME literal
# array in both plans — the entropy
#   n*H*1e9  =  n*lnq(n) - SUM_tok c*lnq(c)
# is then exact bigint end to end: no float, no division, no ulps.
# LN_TABLE_MAX = 128 covers the corpus (max 100 tokens/doc at every sf);
# docs longer than the table are filtered out in BOTH engines (count
# emitted by the filter-audit key family; at 10^12 docs the table simply
# grows — it is O(max doc tokens), not O(corpus)).
LN_TABLE_MAX = 128
_LNQ = [0] + [round(__import__("math").log(c) * 1_000_000_000)
              for c in range(1, LN_TABLE_MAX + 1)]   # _LNQ[c] = lnq(c)


def txt_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: per-document token-distribution entropy in exact integer
    nanonats (total and per-token), plus token/distinct counts. Scale
    shape: one explode + two map-side-combinable groupBys (token counts,
    then per-doc moments); the lnq lookup is element_at on a 128-literal
    array — zero joins, zero Python, fully codegen'd."""
    arr = F.array(*[F.lit(v) for v in _LNQ[1:]])   # 1-based: element_at(arr, c)
    toks = _docs(spark, sf).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per = (
        cnt.select(
            "doc_id", "c",
            (F.col("c") * F.element_at(arr, F.col("c").cast("int")))
            .alias("clnq"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("clnq").alias("s_clnq"),
        )
        .filter(F.col("n_tokens") <= LN_TABLE_MAX)
    )
    ent = (
        F.col("n_tokens")
        * F.element_at(arr, F.col("n_tokens").cast("int"))
        - F.col("s_clnq")
    )
    # ent >= 0 always (H >= 0), so Spark div == DuckDB // here; the
    # pmod form keeps the true-floor-division idiom greppable anyway
    return per.select(
        "doc_id", "n_tokens", "n_distinct",
        ent.alias("ent_total_n9"),
        ((ent - F.pmod(ent, F.col("n_tokens"))) / F.col("n_tokens"))
        .cast("bigint").alias("ent_per_tok_n9"),
    )


def txt_entropy_sql() -> str:
    lst = "[" + ", ".join(str(v) for v in _LNQ[1:]) + "]"
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      cnt AS (
        SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      per AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * ({lst})[c]) AS BIGINT) AS s_clnq
        FROM cnt GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
             n_tokens * ({lst})[n_tokens] - s_clnq AS ent_total_n9,
             (n_tokens * ({lst})[n_tokens] - s_clnq) // n_tokens
               AS ent_per_tok_n9
      FROM per WHERE n_tokens <= {LN_TABLE_MAX}
    """


# ------------------------------------------------- heavy hitters (MG) --

HH_K = 32          # report terms with count > N / HH_K
HH_CAPACITY = 128  # Misra-Gries summary size per partition (>= HH_K)


def heavy_hitters_exact(
    tokens: DataFrame, col: str = "term",
    k: int = HH_K, capacity: int = HH_CAPACITY,
) -> DataFrame:
    """EXACT phi-heavy hitters (count > N/k) by the candidate+verify
    pattern that survives unbounded key cardinality: a bounded-memory
    Misra-Gries summary per partition proposes candidates, an exact
    recount over just the candidate set verifies. On a vocabulary of
    10^9+ keys a straight groupBy(term) shuffles every key; here the
    shuffle after pass 1 carries at most capacity x n_partitions rows,
    and pass 2's recount semi-joins the token stream against a
    broadcast candidate list so only candidate rows ever aggregate.

    Correctness is NOT approximate: MG with capacity c on a partition
    of n_p items keeps every item whose local count exceeds n_p/c, and
    summing the per-partition bound over partitions gives sum(n_p)/c =
    N/c — so any item with global count > N/k >= N/capacity survives in
    at least one partition (capacity >= k enforced below). The exact
    recount then removes every false positive. The candidate set varies
    with the partition layout; the RESULT is partition-invariant
    (property-tested), which is why the DuckDB oracle can be the plain
    one-line HAVING query.

    Python appears only in the pass-1 summary (an Arrow-batched
    per-partition loop, the _tag_batch posture: bounded dict, no
    per-row UDF); pass 2 is pure built-ins under whole-stage codegen.
    """
    if capacity < k:
        raise ValueError(f"capacity {capacity} must be >= k {k}")

    def mg(batches):
        import pandas as pd

        cnt: dict[str, int] = {}
        for pdf in batches:
            for t in pdf[col]:
                if t in cnt:
                    cnt[t] += 1
                elif len(cnt) < capacity:
                    cnt[t] = 1
                else:
                    # decrement-all: amortized O(1) per item (each
                    # decrement pays back an earlier increment)
                    dead = []
                    for x in cnt:
                        cnt[x] -= 1
                        if cnt[x] == 0:
                            dead.append(x)
                    for x in dead:
                        del cnt[x]
        if cnt:
            yield pd.DataFrame({col: list(cnt.keys())})

    cand = (
        tokens.select(col)
        .mapInPandas(mg, f"{col} string")
        .distinct()
    )
    # the total crosses to the driver as ONE scalar and re-enters as a
    # literal (the graph_diameter/bpe lesson: a constant-key ride-along
    # join constant-folds its equi-condition away and plans
    # BroadcastNestedLoopJoin); the count is a map-side-combined scan,
    # same cost as the ride-along's build side.
    n_total = tokens.count()
    hits = (
        tokens.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return (
        hits.filter(F.col("cnt") * k > F.lit(n_total))
        .select(col, "cnt", F.lit(n_total).cast("bigint").alias("n_total"))
    )


def txt_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus heavy hitters: every term above 1/HH_K of total token mass
    — the stopword/boilerplate-token detector that must NOT shuffle the
    whole vocabulary at 100 TB (txt_vocab's top-k keeps a full groupBy;
    this is the unbounded-cardinality-safe form)."""
    toks = _docs(spark, sf).select(
        F.explode(F.split("text", " ")).alias("term"))
    return heavy_hitters_exact(toks)


def txt_heavy_hitters_sql() -> str:
    return f"""
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
      SELECT term, CAST(count(*) AS BIGINT) AS cnt, n.n_total
      FROM toks, n GROUP BY term, n.n_total
      HAVING count(*) * {HH_K} > n.n_total
    """


# ----------------------------------------------- containment detection --

CONTAIN_MIN_PPM = 500000  # report pairs where >= 50% of a's shingles are in b
CONTAIN_TOP = 50


def containment_pairs(
    docs: DataFrame, min_ppm: int = CONTAIN_MIN_PPM,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """ASYMMETRIC containment C(a->b) = |sh(a) & sh(b)| / |sh(a)| — the
    quote/subset detector Jaccard misses: a paragraph quoted inside a
    10x-longer page has tiny Jaccard but containment ~1.0 in the
    quote->page direction, which is exactly the signal a training-data
    pipeline needs to drop derived copies while keeping the original
    (pair D7's substring tier with a doc-granularity decision). Directed
    pairs (a != b, both directions scored independently); integer-ppm
    floor division keeps both engines on the same value.

    Scale shape: same inverted-index self-join as dedup_ngram_jaccard —
    O(sum postings^2) with the df-cap bounding the worst shingle
    (capped intersection is a lower bound on containment, never
    inflated; denominators keep true per-doc counts). Deterministic
    total order (cont_ppm desc, a_id, b_id), top-{CONTAIN_TOP}."""
    sh = _shingles(docs)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    capped = sh
    if max_doc_freq is not None:
        over_cap = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("sh")
        )
        capped = sh.join(F.broadcast(over_cap), "sh", "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("a_id"),
                       F.col("n_sh").alias("n_a"))
    out = (
        inter.join(ca, "a_id")
        .withColumn(
            "cont_ppm",
            # exact integral `div`, not double-divide-then-cast: the
            # min_ppm boundary (exactly 50%) must include/exclude the
            # same pairs as the oracle's integer `//`
            F.expr("(1000000 * n_common) div n_a").cast("bigint"),
        )
        .filter(F.col("cont_ppm") >= min_ppm)
    )
    return (
        out.select("a_id", "b_id", "n_common", "n_a", "cont_ppm")
        .orderBy(F.col("cont_ppm").desc(), "a_id", "b_id")
        .limit(CONTAIN_TOP)
    )


def txt_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Gate slice for containment_pairs over the documents table."""
    return containment_pairs(_docs(spark, sf))


def txt_containment_pairs_sql() -> str:
    return f"""
      WITH {_SQL_SHINGLES},
      counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1),
      capped AS (
        SELECT doc_id, sh FROM shingles
        QUALIFY count(*) OVER (PARTITION BY sh) <= {MAX_SHINGLE_DF}),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS BIGINT) AS n_common
        FROM capped a JOIN capped b
          ON a.sh = b.sh AND a.doc_id != b.doc_id
        GROUP BY 1, 2)
      SELECT i.a_id, i.b_id, i.n_common, ca.n_sh AS n_a,
             1000000 * i.n_common // ca.n_sh AS cont_ppm
      FROM inter i JOIN counts ca ON ca.doc_id = i.a_id
      WHERE 1000000 * i.n_common // ca.n_sh >= {CONTAIN_MIN_PPM}
      ORDER BY cont_ppm DESC, i.a_id, i.b_id
      LIMIT {CONTAIN_TOP}
    """


# ------------------------------------------- mergeable sketches (round 5) --

# The two sketches a 100-TB profiling pass actually ships to the driver:
# HyperLogLog registers (distinct count) and a Count-Min table (frequency
# point queries). Both are built DETERMINISTICALLY from md5-derived hashes,
# so unlike Spark's approx_count_distinct (whose HLL++ internals differ
# from DuckDB's — that's why agg_approx_distinct is a rows-only key) the
# SKETCH ITSELF is cross-engine value-hash certifiable: the gate compares
# the register/cell tables bit-for-bit. Accuracy and mergeability (the
# property that lets every executor summarize its split and the driver
# fold max/sum — no second shuffle over raw keys) are pytest-pinned in
# tests/test_sketch.py.

HLL_P = 8                    # 2^8 = 256 registers, std err ~1.04/16 = 6.5%
HLL_M = 1 << HLL_P
_HLL_WBITS = 60 - HLL_P      # md5 prefix gives 60 hash bits; low 8 pick the
                             # register, the remaining 52 feed the rho scan
CMS_D = 4                    # Count-Min depth (independent hash rows)
CMS_W = 64                   # width: eps = e/64 ~ 4.2% of total mass


def hll_registers(df: DataFrame, key: Column) -> DataFrame:
    """HyperLogLog register table for the stream of `key` values:
    (reg int, max_rho int), one row per NON-EMPTY register. h is a 60-bit
    md5-derived hash (15 hex chars keeps the BIGINT positive in both
    engines); reg = h mod 2^p; rho = 1 + leading zeros of the remaining
    {52}-bit word, computed as 53 - bitlength via bin() — identical
    minimal-binary semantics in Spark and DuckDB, no float log2 at a
    power-of-two boundary. Duplicates need no pre-distinct: max() absorbs
    them, which is what makes this a one-Exchange map-side-combinable
    plan over any input size. Merging two register tables = cellwise max
    (pytest-pinned); estimation happens driver-side on 256 rows."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll|"), key.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    w = F.expr(f"h div {HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    return (
        df.select(h.alias("h"))
        .select((F.col("h") % HLL_M).cast("int").alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").cast("int").alias("max_rho"))
    )


def hll_estimate(registers: list[tuple[int, int]]) -> float:
    """Standard HLL estimate from a (reg, max_rho) row list — the
    driver-side last step (256 rows, pure Python). Includes the
    linear-counting small-range correction; the raw harmonic-mean
    estimate otherwise (the corpus sizes this repo profiles never hit
    the 2^60/30 large-range regime)."""
    import math

    got = {r: m for r, m in registers}
    zeros = HLL_M - len(got)
    s = zeros * 1.0 + sum(2.0 ** -m for m in got.values())
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    raw = alpha * HLL_M * HLL_M / s
    if raw <= 2.5 * HLL_M and zeros > 0:
        return HLL_M * math.log(HLL_M / zeros)
    return raw


def sketch_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: HLL registers over lineitem.l_orderkey (~14.7k true
    distinct at sf0.01 — every register exercised). The register table is
    exact deterministic integer state, so the value hash certifies the
    hash split, the bin()-based rho, and the max fold."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return hll_registers(li, F.col("l_orderkey"))


def sketch_hll_sql() -> str:
    return f"""
      WITH h AS (
        SELECT ('0x' || substr(md5('hll|' || CAST(l_orderkey AS VARCHAR)),
                               1, 15))::BIGINT AS h
        FROM lineitem)
      SELECT CAST(h % {HLL_M} AS INT) AS reg,
             CAST(max(CASE WHEN h // {HLL_M} = 0 THEN {_HLL_WBITS + 1}
                           ELSE {_HLL_WBITS + 1} - length(bin(h // {HLL_M}))
                      END) AS INT) AS max_rho
      FROM h GROUP BY 1
    """


def cms_sketch(df: DataFrame, key: Column) -> DataFrame:
    """Count-Min sketch of `key` frequencies: (row_id, col_id, cell) with
    CMS_D x CMS_W cells. Two-phase build: exact per-key counts first (one
    map-side-combinable groupBy — the heavy lifting, and at 10^12 rows
    the ONLY pass over raw data), then CMS_D hash columns over the
    distinct-key table stacked and re-summed (vocabulary-sized input).
    Hashing distinct keys once instead of every occurrence is the 100-TB
    version of the textbook per-item update loop — same cells, CMS_D x
    fewer md5 calls. Point query: est(x) = min_i cell[i][h_i(x)] >= true
    count, <= true + e/W * N w.h.p. (pytest-pinned); merge = cellwise
    sum."""
    counts = (
        df.select(key.cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cols = []
    for i in range(1, CMS_D + 1):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{i}|"), F.col("k"))), 1, 6),
            16, 10,
        ).cast("long")
        cols.append((h % CMS_W).cast("int").alias(f"c{i}"))
    stacked = counts.select("cnt", *cols).select(
        "cnt",
        F.expr(
            "stack(%d, %s) as (row_id, col_id)"
            % (CMS_D, ", ".join(f"{i}, c{i}" for i in range(1, CMS_D + 1)))
        ),
    )
    return (
        stacked.groupBy("row_id", "col_id")
        .agg(F.sum("cnt").cast("bigint").alias("cell"))
    )


def cms_point_query(cells: list[tuple[int, int, int]], key: str) -> int:
    """Driver-side point estimate from a collected (row_id, col_id, cell)
    list — min over the CMS_D counters the key hashes into (missing cell
    = 0, which only happens when the key was never seen)."""
    import hashlib

    got = {(r, c): v for r, c, v in cells}
    est = None
    for i in range(1, CMS_D + 1):
        h = int(hashlib.md5(f"cms{i}|{key}".encode()).hexdigest()[:6], 16)
        v = got.get((i, h % CMS_W), 0)
        est = v if est is None else min(est, v)
    return int(est or 0)


def sketch_cms(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: Count-Min cells over orders.o_custkey (1500 distinct
    keys >> 64 columns at sf0.01, so every cell aggregates real
    collisions — the regime the min-of-rows estimator exists for)."""
    o = spark.read.parquet(f"{sf}/orders.parquet")
    return cms_sketch(o, F.col("o_custkey"))


def sketch_cms_sql() -> str:
    hashes = " UNION ALL ".join(
        f"SELECT {i} AS row_id,"
        f" ('0x' || substr(md5('cms{i}|' || k), 1, 6))::BIGINT % {CMS_W}"
        f" AS col_id, cnt FROM c"
        for i in range(1, CMS_D + 1)
    )
    return f"""
      WITH c AS (
        SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS cnt
        FROM orders GROUP BY 1),
      cells AS ({hashes})
      SELECT CAST(row_id AS INT) AS row_id, CAST(col_id AS INT) AS col_id,
             CAST(sum(cnt) AS BIGINT) AS cell
      FROM cells GROUP BY 1, 2
    """


# KMV (k-minimum-values / bottom-k) sketch — the third mergeable sketch:
# the one that answers SET-EXPRESSION cardinalities (|A∩B|, Jaccard),
# which HLL registers and CMS cells cannot. State = the KMV_K smallest
# distinct 60-bit md5 hashes of a set's members. Properties this repo
# pins in tests/test_sketch.py:
#   merge: kmin_k(sketch(A) ∪ sketch(B)) == sketch(A ∪ B) EXACTLY (not
#     approximately — the k smallest of a union are among the k smallest
#     of each side), so executors fold partial sketches losslessly;
#   estimate: N̂ = (k-1)·2^60/h_(k), std err ~ 1/sqrt(k-2) (12.7% at 64);
#     when |set| < k the sketch is exhaustive and the count is EXACT;
#   intersect: rho = |{x ∈ kmin_k(A∪B) : x ∈ A and x ∈ B}|/k estimates
#     Jaccard, |A∩B| ≈ rho · N̂(A∪B) (Beyer et al., SIGMOD 2007).
# The estimate rides the repo's integer-ppm idiom (h_(k) floor-divided
# into ppm of the hash space, then one integer division) so the gate
# value-hashes the ESTIMATES too, not just the hash state.

KMV_K = 64
KMV_HSPACE = 1 << 60                    # 15 md5 hex chars, BIGINT-positive
KMV_HDIV = KMV_HSPACE // 1_000_000      # h → ppm of the hash space

# The two gate sets: returned orders vs bulk orders (11.1k / 13.1k
# distinct l_orderkey at sf0.01, overlap 10.2k — real collision regime).
KMV_SETS = {
    "returned": "l_returnflag = 'R'",
    "bulk": "l_quantity >= 25",
}


def _kmv_hash(key: Column) -> Column:
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv|"), key.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def kmv_sketch(df: DataFrame, key: Column, set_id: str) -> DataFrame:
    """(set_id, rank, hval): the KMV_K smallest distinct hashes of `key`.
    The distinct-hash groupBy is the only input-sized pass (map-side
    combinable); the rank window runs over the distinct-key table. At
    10^12 rows the window would be replaced by per-partition bottom-k +
    a lossless merge fold (the merge property above is what licenses
    that swap); exact-k ranking keeps the oracle form here."""
    from pyspark.sql import Window

    h = df.select(_kmv_hash(key).alias("hval")).distinct()
    w = Window.orderBy("hval")
    return (
        h.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= KMV_K)
        .select(F.lit(set_id).alias("set_id"), "rank", "hval")
    )


def kmv_estimate(hvals: list[int]) -> int:
    """Driver-side distinct-count estimate from a sketch's hash list:
    exhaustive count when |sketch| < KMV_K, else (k-1)·2^60/h_(k)."""
    if len(hvals) < KMV_K:
        return len(hvals)
    hk = max(hvals)
    return (KMV_K - 1) * KMV_HSPACE // hk


def kmv_merge(a: list[int], b: list[int]) -> list[int]:
    """Lossless sketch union: k smallest of the merged hash sets."""
    return sorted(set(a) | set(b))[:KMV_K]


def sketch_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the KMV state tables for both gate sets — 2×KMV_K rows
    of exact deterministic integer state, bit-certified cross-engine."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    parts = [
        kmv_sketch(li.filter(F.expr(pred)), F.col("l_orderkey"), sid)
        for sid, pred in KMV_SETS.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sketch_kmv_sql() -> str:
    arms = " UNION ALL ".join(
        f"""SELECT '{sid}' AS set_id, CAST(rank AS INT) AS rank, hval
        FROM (
          SELECT row_number() OVER (ORDER BY hval) AS rank, hval
          FROM (
            SELECT DISTINCT ('0x' || substr(
                md5('kmv|' || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
              AS hval
            FROM lineitem WHERE {pred}))
        WHERE rank <= {KMV_K}"""
        for sid, pred in KMV_SETS.items()
    )
    return arms


def sketch_kmv_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Gate key: the full KMV set-expression epilogue IN-PLAN — merge the
    two sketches, estimate |A∪B| from the merged k-th hash, estimate
    Jaccard as the both-sets fraction of the merged bottom-k, and |A∩B|
    as their product; every step integer (ppm idiom), single-row output.
    After the two sketch builds everything is model-sized (≤2k rows)."""
    from pyspark.sql import Window

    sids = list(KMV_SETS)
    sk = sketch_kmv(spark, sf)
    flags = sk.groupBy("hval").agg(
        F.max(F.when(F.col("set_id") == sids[0], 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("set_id") == sids[1], 1).otherwise(0)).alias("in_b"),
    )
    w = Window.orderBy("hval")
    merged = (
        flags.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KMV_K)
    )
    agg = merged.agg(
        F.max("hval").alias("hk"),
        F.sum(F.expr("in_a * in_b")).cast("long").alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("n_rank"),
    )
    # Exhaustive regime (n_rank < k: the merged sketch IS the union):
    # Jaccard's denominator is n_rank and the intersection is n_both,
    # exactly — honoring the module's |set| < k ⇒ EXACT contract.
    # Saturated regime: n_rank == k, so n_rank is the right denominator
    # in both arms; est_intersection in the exhaustive arm is emitted
    # directly as n_both (not jacc·est/1e6, whose double floor can land
    # one short). Staged select so the estimator exists ONCE per engine.
    return (
        agg.select(
            F.lit(KMV_K).alias("k"),
            F.expr(f"hk div {KMV_HDIV}").alias("hk_ppm"),
            F.expr(f"CASE WHEN n_rank < {KMV_K} THEN n_rank "
                   f"ELSE {KMV_K - 1} * 1000000"
                   f" div greatest(hk div {KMV_HDIV}, 1)"
                   " END").alias("est_union"),
            "n_both",
            "n_rank",
            F.expr("1000000 * n_both div n_rank").alias("jacc_ppm"),
        )
        .select(
            "k", "hk_ppm", "est_union", "n_both", "jacc_ppm",
            F.expr(f"CASE WHEN n_rank < {KMV_K} THEN n_both "
                   "ELSE jacc_ppm * est_union div 1000000 END")
            .alias("est_intersection"),
        )
    )


def sketch_kmv_jaccard_sql() -> str:
    return f"""
      WITH sk AS ({sketch_kmv_sql()}),
      flags AS (
        SELECT hval,
               max(CASE WHEN set_id = '{list(KMV_SETS)[0]}' THEN 1 ELSE 0 END)
                 AS in_a,
               max(CASE WHEN set_id = '{list(KMV_SETS)[1]}' THEN 1 ELSE 0 END)
                 AS in_b
        FROM sk GROUP BY hval),
      merged AS (
        SELECT hval, in_a, in_b,
               row_number() OVER (ORDER BY hval) AS rank
        FROM flags QUALIFY rank <= {KMV_K}),
      agg AS (
        SELECT max(hval) AS hk,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
               CAST(count(*) AS BIGINT) AS n_rank
        FROM merged),
      est AS (
        SELECT {KMV_K} AS k,
               hk // {KMV_HDIV} AS hk_ppm,
               CASE WHEN n_rank < {KMV_K} THEN n_rank
                    ELSE {KMV_K - 1} * 1000000
                         // greatest(hk // {KMV_HDIV}, 1) END AS est_union,
               n_both,
               n_rank,
               1000000 * n_both // n_rank AS jacc_ppm
        FROM agg)
      SELECT k, hk_ppm, est_union, n_both, jacc_ppm,
             CASE WHEN n_rank < {KMV_K} THEN n_both
                  ELSE jacc_ppm * est_union // 1000000 END
               AS est_intersection
      FROM est
    """


def datapipe_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": dedup_exact,
        "dedup_incremental": dedup_incremental,
        "url_canon_dedup": url_canon_dedup,
        "crawl_robots": crawl_robots,
        "crawl_robots_parse": crawl_robots_parse,
        "crawl_sitemap": crawl_sitemap,
        "crawl_sitemap_index": crawl_sitemap_index,
        "crawl_mime_sniff": crawl_mime_sniff,
        "crawl_etld1": crawl_etld1,
        "crawl_redirects": crawl_redirects,
        "crawl_schedule": crawl_schedule,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_minhash_quality": dedup_minhash_quality,
        "dedup_cluster": dedup_cluster,
        "ann_pq_codes": ann_pq_codes,
        "ann_pq_topk": ann_pq_topk,
        "ann_ivfpq_topk": ann_ivfpq_topk,
        "dedup_simhash": dedup_simhash,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_winnow_pairs": dedup_winnow_pairs,
        "dedup_substring": dedup_substring,
        "dedup_embed_cosine": dedup_embed_cosine,
        "dedup_semantic": dedup_semantic,
        "ann_topk_cosine": ann_topk_cosine,
        "ann_lsh_bucket": ann_lsh_bucket,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_lsh_multiprobe": ann_lsh_multiprobe,
        "ann_ivf_assign": ann_ivf_assign,
        "ann_ivf_topk": ann_ivf_topk,
        "ann_kmeans_centroids": ann_kmeans_centroids,
        "ann_kmeans_assign": ann_kmeans_assign,
        "ann_kmeans_topk": ann_kmeans_topk,
        "txt_langid": txt_langid,
        "txt_quality": txt_quality,
        "txt_entropy": txt_entropy,
        "txt_tokens": txt_tokens,
        "txt_fingerprint": txt_fingerprint,
        "txt_winnow": txt_winnow,
        "txt_repetition": txt_repetition,
        "txt_redact": txt_redact,
        "txt_decontam": txt_decontam,
        "txt_tfidf": txt_tfidf,
        "txt_vocab": txt_vocab,
        "txt_heavy_hitters": txt_heavy_hitters,
        "txt_containment_pairs": txt_containment_pairs,
        "sketch_hll": sketch_hll,
        "sketch_cms": sketch_cms,
        "sketch_kmv": sketch_kmv,
        "sketch_kmv_jaccard": sketch_kmv_jaccard,
        "txt_bpe_merges": txt_bpe_merges,
        "txt_bpe_encode": txt_bpe_encode,
        "txt_collocations": txt_collocations,
        "txt_lm_score": txt_lm_score,
        "txt_sample_stratified": txt_sample_stratified,
        "txt_classify": txt_classify,
        "txt_classify_train": txt_classify_train,
        "txt_classify_trained": txt_classify_trained,
        "txt_nb_train": txt_nb_train,
        "txt_nb_classify": txt_nb_classify,
        "txt_filter_gate": txt_filter_gate,
        "txt_boilerplate": txt_boilerplate,
        "txt_chunk": txt_chunk,
        "txt_pack_sequences": txt_pack_sequences,
        "grp_apply_pandas": grp_apply_pandas,
    }


def datapipe_oracle_sql() -> dict[str, str]:
    return {
        "dedup_exact": dedup_exact_sql(),
        "dedup_incremental": dedup_incremental_sql(),
        "url_canon_dedup": url_canon_dedup_sql(),
        "crawl_robots": crawl_robots_sql(),
        "crawl_robots_parse": crawl_robots_parse_sql(),
        "crawl_sitemap": crawl_sitemap_sql(),
        "crawl_sitemap_index": crawl_sitemap_index_sql(),
        "crawl_mime_sniff": crawl_mime_sniff_sql(),
        "crawl_etld1": crawl_etld1_sql(),
        "crawl_redirects": crawl_redirects_sql(),
        "crawl_schedule": crawl_schedule_sql(),
        "dedup_minhash_lsh": dedup_minhash_lsh_sql(),
        "dedup_minhash_pairs": dedup_minhash_pairs_sql(),
        "dedup_minhash_quality": dedup_minhash_quality_sql(),
        "dedup_cluster": dedup_cluster_sql(),
        "ann_pq_codes": ann_pq_codes_sql(),
        "ann_pq_topk": ann_pq_topk_sql(),
        "ann_ivfpq_topk": ann_ivfpq_topk_sql(),
        "dedup_simhash": dedup_simhash_sql(),
        "dedup_ngram_jaccard": dedup_ngram_jaccard_sql(),
        "dedup_winnow_pairs": dedup_winnow_pairs_sql(),
        "dedup_substring": dedup_substring_sql(),
        "dedup_embed_cosine": dedup_embed_cosine_sql(),
        "dedup_semantic": dedup_semantic_sql(),
        "ann_topk_cosine": ann_topk_cosine_sql(),
        "ann_lsh_bucket": ann_lsh_bucket_sql(),
        "ann_lsh_topk": ann_lsh_topk_sql(),
        "ann_lsh_multiprobe": ann_lsh_multiprobe_sql(),
        "ann_ivf_assign": ann_ivf_assign_sql(),
        "ann_ivf_topk": ann_ivf_topk_sql(),
        "ann_kmeans_centroids": ann_kmeans_centroids_sql(),
        "ann_kmeans_assign": ann_kmeans_assign_sql(),
        "ann_kmeans_topk": ann_kmeans_topk_sql(),
        "txt_langid": txt_langid_sql(),
        "txt_quality": txt_quality_sql(),
        "txt_entropy": txt_entropy_sql(),
        "txt_tokens": txt_tokens_sql(),
        "txt_fingerprint": txt_fingerprint_sql(),
        "txt_winnow": txt_winnow_sql(),
        "txt_repetition": txt_repetition_sql(),
        "txt_redact": txt_redact_sql(),
        "txt_decontam": txt_decontam_sql(),
        "txt_tfidf": txt_tfidf_sql(),
        "txt_vocab": txt_vocab_sql(),
        "txt_heavy_hitters": txt_heavy_hitters_sql(),
        "txt_containment_pairs": txt_containment_pairs_sql(),
        "sketch_hll": sketch_hll_sql(),
        "sketch_cms": sketch_cms_sql(),
        "sketch_kmv": sketch_kmv_sql(),
        "sketch_kmv_jaccard": sketch_kmv_jaccard_sql(),
        "txt_bpe_merges": txt_bpe_merges_sql(),
        "txt_bpe_encode": txt_bpe_encode_sql(),
        "txt_collocations": txt_collocations_sql(),
        "txt_lm_score": txt_lm_score_sql(),
        "txt_sample_stratified": txt_sample_stratified_sql(),
        "txt_classify": txt_classify_sql(),
        "txt_classify_train": txt_classify_train_sql(),
        "txt_classify_trained": txt_classify_trained_sql(),
        "txt_nb_train": txt_nb_train_sql(),
        "txt_nb_classify": txt_nb_classify_sql(),
        "txt_filter_gate": txt_filter_gate_sql(),
        "txt_boilerplate": txt_boilerplate_sql(),
        "txt_chunk": txt_chunk_sql(),
        "txt_pack_sequences": txt_pack_sequences_sql(),
        "grp_apply_pandas": grp_apply_pandas_sql(),
    }
