"""Training-data-pipeline operators: dedup, similarity, text analysis.

None of these exist in the reference (its only text op is the empty
filter, ``KDS-P/.../DataStreamJob.java:146``; similarity is delegated to
OpenSearch HNSW) — they are the engine's north-star additions, built so
the hot path stays in whole-stage codegen:

- hashing (md5/crc) and shingling run as higher-order array expressions,
  JVM-side, zero Python crossings;
- MinHash signatures are computed per-row with transform/array_min —
  no explode, no shuffle until the LSH band join;
- the LSH band join shuffles only (band_idx, band_key) pairs, the
  at-scale alternative to the O(n^2) pairwise join;
- embedding near-dup joins are blocked on a coarse key (label) so the
  self-join never goes quadratic in the corpus.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    BPE_SPLIT_PATTERN,
    CJK_PATTERN,
    ROLLING_BASE,
    ROLLING_MOD,
    bpe_token_count,
    doc_fingerprint,
    normalized_text,
    quality_score,
    rolling_hash,
    token_count,
)
from ..functions.vector import cosine_similarity
from ..sources.batch import load_table, spread_compute
from .registry import query

# Shared SQL fragment: canonical whitespace-normalized lowercase text.
_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# Session-scoped intermediate materialization
# ---------------------------------------------------------------------------

# The dedup chain (d03 signatures -> d04 candidate pairs -> d08/d10/d15/
# d16 consumers) shares three expensive intermediates: the shingle
# table, the MinHash signatures, and the candidate-pair table. Each
# consumer used to re-derive them from raw text; at 100 TB that is the
# difference between shingling the corpus once and shingling it five
# times. This seam persists each intermediate once per (session,
# sf_dir) at MEMORY_AND_DISK (spills instead of OOMing on big
# partitions); a real deployment would swap persist() for a parquet
# write of the same DataFrame and get restartability too.
_INTERMEDIATES: dict[tuple[str, str, str, str], DataFrame] = {}


# Session conf key: when set to a directory, intermediates materialize
# as parquet tables under it instead of executor-memory persist() —
# the restartable at-100-TB mode (a re-run, or a different job in the
# same pipeline, reads the table instead of recomputing the corpus).
# The directory may be any Hadoop-filesystem URI (local path, hdfs://,
# s3a://): completeness is probed through the Hadoop FileSystem API,
# not os.path.
INTERMEDIATE_DIR_CONF = "spark.graft.intermediateDir"


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the JVM Hadoop FileSystem, so the
    restartable mode works against object stores, not just the
    driver-local filesystem. Single implementation: streaming.statefs
    (the streaming state protocol shares it)."""
    from ..streaming.statefs import exists

    return exists(spark, path)


def _cached_intermediate(
    spark: SparkSession, sf_dir: str, kind: str, build: Callable[[], DataFrame]
) -> DataFrame:
    # The content fingerprint of the source table is part of BOTH the
    # in-memory key and the parquet path tag: a regenerated sf_dir (same
    # path, new data) must re-derive, never serve stale dedup results —
    # in-process and across processes. Same staleness class as the
    # ORC/CSV materialization caches in pipeline_extra.
    from ..sources.batch import source_fingerprint

    fp = source_fingerprint(os.path.join(os.path.abspath(sf_dir), "documents.parquet"))
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), kind, fp)
    df = _INTERMEDIATES.get(key)
    if df is None:
        out_dir = spark.conf.get(INTERMEDIATE_DIR_CONF, None)
        if out_dir:
            import hashlib

            tag = hashlib.md5(
                f"{os.path.abspath(sf_dir)}|{fp}".encode()
            ).hexdigest()[:12]
            path = f"{out_dir.rstrip('/')}/{kind}-{tag}"
            # _SUCCESS marks a complete prior write (Spark's commit
            # protocol); anything else is absent or torn -> rewrite.
            if not _fs_exists(spark, f"{path}/_SUCCESS"):
                build().write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        else:
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _INTERMEDIATES[key] = df
    return df


def clear_intermediate_cache() -> None:
    """Unpersist and drop every cached intermediate (bench uses this so
    each measured run pays the full cold cost, keeping numbers
    comparable with the pre-seam baselines)."""
    for df in _INTERMEDIATES.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _INTERMEDIATES.clear()


# ---------------------------------------------------------------------------
# Exact + fuzzy deduplication
# ---------------------------------------------------------------------------


@query(
    "d01_exact_dedup",
    oracle=f"""
SELECT md5({_SQL_NORM}) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    tags=("dedup", "text"),
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (md5 of normalized text):
    group-by-hash with min-id survivor selection. One shuffle on the
    16-byte fingerprint regardless of document size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _trigrams(tokens: Column) -> Column:
    """Distinct token 3-gram shingles from a token array (empty-safe).

    Built with zip_with over shifted slices instead of
    transform(sequence)+element_at: one linear pass per row versus
    repeated positional lookups (~5x faster measured — higher-order
    functions run interpreted, so constant factors matter)."""
    n = F.size(tokens)
    pairs = F.zip_with(
        F.slice(tokens, 2, n - 2),
        F.slice(tokens, 3, n - 2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n < 3, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.zip_with(
                F.slice(tokens, 1, n - 2),
                pairs,
                lambda a, bc: F.concat_ws(" ", a, bc),
            )
        )
    )


_SQL_TRIGRAMS = """
CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
     ELSE list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END
"""


@query(
    "d02_ngram_jaccard",
    oracle=f"""
WITH shingled AS (
  SELECT doc_id, {_SQL_TRIGRAMS.strip()} AS grams
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
        FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
        ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))) END, 6) AS jaccard
FROM shingled a JOIN shingled b ON b.doc_id = a.doc_id + 1
""",
    tags=("dedup", "similarity", "text"),
)
def d02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-trigram Jaccard similarity between adjacent document pairs.
    Shingling is a per-row array expression; only the 1:1 pair join
    shuffles. (The all-pairs version is d04's LSH candidate join.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalized_text(F.col("text")), r"\s+")
    shingled = docs.select("doc_id", _trigrams(toks).alias("grams"))
    a, b = shingled.alias("a"), shingled.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.round(
            F.when(union == 0, F.lit(0.0)).otherwise(
                inter.cast("double") / union
            ),
            6,
        ).alias("jaccard"),
    )


_N_MINHASH = 16
_N_BANDS = 4  # 4 bands x 4 rows


# Broder-style permutation family: each shingle is md5'd ONCE, split into
# two 28-bit halves (h1, h2), and the s-th permutation hash is
# (h1 + s*h2) mod p — 16x fewer hash evaluations than hashing per seed,
# the standard at-scale MinHash construction.
_MINHASH_P = 268_435_399  # prime < 2^28; s*h2 stays far inside BIGINT


_SQL_MINHASH = f"""
list_transform(generate_series(0, {_N_MINHASH - 1}),
  s -> list_min(list_transform(
         list_transform(grams, g -> {{'h1': CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT),
                                      'h2': CAST(concat('0x', substr(md5(g), 9, 7)) AS BIGINT)}}),
         h -> (h.h1 + s * h.h2) % {_MINHASH_P})))
"""


def _shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, grams) non-distinct trigram shingles from any
    (doc_id, text, ...) DataFrame — the MinHash input. Factored out so
    streaming arrivals (st14) shingle each micro-batch with EXACTLY the
    same expression the batch corpus path uses."""
    toks = F.split(normalized_text(F.col("text")), r"\s+")
    n = F.size(toks)
    # Unlike _trigrams (the Jaccard path), shingles here are NOT
    # deduplicated: a min-aggregation is unaffected by duplicates, and
    # array_distinct dominates the per-row cost (measured 2.2s -> 0.6s
    # for the full signature job at sf0.1 when dropped). The n >= 3
    # filter also makes the empty-array guard unnecessary.
    pairs = F.zip_with(
        F.slice(toks, 2, n - 2),
        F.slice(toks, 3, n - 2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = F.zip_with(
        F.slice(toks, 1, n - 2),
        pairs,
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    # Pre-filter on the CHEAP equivalent condition (trigrams exist iff
    # >= 3 tokens). Filtering on size(grams) > 0 would let Catalyst push
    # the whole shingling expression below the repartition exchange and
    # evaluate it twice on the unparallelized input (measured ~20x slower).
    return docs.filter(n >= 3).select("doc_id", grams.alias("grams"))


def _shingled_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-trigram shingle table (doc_id, grams) shared by the
    exact-verification stages (d10 Jaccard, d15 containment). Persisted
    once per session via the intermediate seam — the verify joins scan
    it twice (a-side and b-side) but the corpus is shingled once."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        toks = F.split(normalized_text(F.col("text")), r"\s+")
        return docs.select("doc_id", _trigrams(toks).alias("grams"))

    return _cached_intermediate(spark, sf_dir, "shingled", build)


def _exploded_grams_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gram) — the shingle table exploded one gram per row,
    persisted via the seam. Plans that walk the gram table several
    times (d29's eval positions / corpus grams / per-doc hits) pay the
    explode once instead of per walk."""

    def build() -> DataFrame:
        return _shingled_df(spark, sf_dir).select(
            "doc_id", F.explode("grams").alias("gram")
        )

    return _cached_intermediate(spark, sf_dir, "shingled_exploded", build)


def signatures_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, signature array<bigint>[16]) from any (doc_id, text)
    DataFrame: shingle -> explode -> codegen'd md5 -> 16-way min
    aggregation. The explode+hash+partial-min all stay in whole-stage
    codegen (nested higher-order lambdas would run interpreted); the
    shuffle carries only (doc_id, h1, h2) pre-min rows and partial
    aggregation collapses them map-side. Shared by the seam-cached
    corpus path and st14's per-micro-batch arrival signatures, so both
    produce bit-identical signatures by construction.

    explode_OUTER, not explode (r15, guide §1.2/§2.5): plain explode
    makes Catalyst infer `size(grams) > 0 AND grams IS NOT NULL`
    (InferFiltersFromGenerate) and predicate pushdown sinks that below
    the upstream repartition/spread_compute exchange — where the whole
    zip_with gram tree is re-evaluated 2-3x per row ON THE UNSPREAD
    INPUT (one task for a file-stream micro-batch, few tasks for the
    corpus scan): the r14 st28 after-plan showed exactly this (ADVICE
    r14), defeating the spread it documented. outer infers no filter,
    and the two are row-identical here: _shingle_docs keeps only docs
    with >= 3 tokens, whose trigram array has size n-2 >= 1 — never
    empty, never null."""
    ex = _shingle_docs(docs).select(
        "doc_id", F.explode_outer("grams").alias("g")
    )
    hashed = ex.select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 7), 16, 10)
        .cast("bigint")
        .alias("h1"),
        F.conv(F.substring(F.md5("g"), 9, 7), 16, 10)
        .cast("bigint")
        .alias("h2"),
    )
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + s * F.col("h2")) % _MINHASH_P).alias(f"m{s}")
            for s in range(_N_MINHASH)
        ]
    )
    return mins.select(
        "doc_id",
        F.array(*[f"m{s}" for s in range(_N_MINHASH)]).alias("signature"),
    )


def _minhash_signatures_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus MinHash signatures (see signatures_from_docs), persisted
    once per session via the intermediate seam."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # The corpus arrives as few large files; shingling is CPU-bound,
        # so spread rows across all cores first (a shuffle of (doc_id,
        # text) is trivial next to the work it parallelizes).
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return signatures_from_docs(docs)

    return _cached_intermediate(spark, sf_dir, "minhash_sigs", build)


@query(
    "d03_minhash_signatures",
    oracle=f"""
WITH shingled AS (
  SELECT doc_id, {_SQL_TRIGRAMS.strip()} AS grams
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
        FROM documents)
)
SELECT doc_id, to_json({_SQL_MINHASH.strip()}) AS signature
FROM shingled WHERE len(grams) > 0
""",
    tags=("dedup", "minhash"),
)
def d03_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature: 16 Broder permutations from one
    md5 per shingle (engine-portable, unlike murmur), computed fully
    inside whole-stage codegen via explode + grouped min. The catalog
    entry serializes the signature as a JSON string: raw array columns
    crash pandas-based canonicalizers (sort_values on list cells), and
    JSON-of-int renders identically in Spark and DuckDB. Downstream
    operators (d04/d08) consume the array form via
    _minhash_signatures_df."""
    return _minhash_signatures_df(spark, sf_dir).select(
        "doc_id", F.to_json("signature").alias("signature")
    )


# Per-bucket cardinality guard for the LSH band self-join. A degenerate
# bucket (N copies of the same template/spam document share every band
# key) would emit N^2/2 in-bucket pairs on a single task at 100 TB.
# Buckets at or under the cap run the normal all-pairs join; oversized
# buckets are STAR-LINKED instead — every member pairs with the bucket's
# minimum doc_id — which keeps the pair count linear in the bucket while
# preserving exactly the connectivity d08's connected components (and so
# d16's survivor selection) need: all members still end up in one
# component. The verify stages (d10/d15) score star pairs like any
# other candidate. Standard production-MinHash practice.
_LSH_BUCKET_CAP = 64

# Session conf key overriding the default cap: a 100-TB corpus run
# tunes this per corpus (template-heavy crawls want it low, curated
# corpora can afford exact pairs in bigger buckets). The DuckDB oracles
# bake the DEFAULT — the driver gate always runs with the conf unset —
# so overriding it is an operational knob, not a semantics fork.
LSH_BUCKET_CAP_CONF = "spark.graft.lshBucketCap"


def _lsh_bucket_cap(spark: SparkSession) -> int:
    cap = int(spark.conf.get(LSH_BUCKET_CAP_CONF, str(_LSH_BUCKET_CAP)))
    if cap < 1:
        raise ValueError(f"{LSH_BUCKET_CAP_CONF} must be >= 1, got {cap}")
    return cap


_SQL_LSH_CTES = f"""
shingled AS (
  SELECT doc_id, {_SQL_TRIGRAMS.strip()} AS grams
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
        FROM documents)
), sigs AS (
  SELECT doc_id, {_SQL_MINHASH.strip()} AS sig
  FROM shingled WHERE len(grams) > 0
), bands AS (
  SELECT doc_id, b.band_idx,
         concat_ws(',', sig[b.band_idx*4+1], sig[b.band_idx*4+2],
                        sig[b.band_idx*4+3], sig[b.band_idx*4+4]) AS band_key
  FROM sigs, (SELECT unnest(generate_series(0, {_N_BANDS - 1})) AS band_idx) b
), bstats AS (
  SELECT doc_id, band_idx, band_key,
         COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n,
         MIN(doc_id) OVER (PARTITION BY band_idx, band_key) AS bucket_rep
  FROM bands
), lsh_pairs AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bstats a JOIN bstats b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE a.bucket_n <= {_LSH_BUCKET_CAP}
    UNION ALL
    SELECT bucket_rep AS id_a, doc_id AS id_b FROM bstats
    WHERE bucket_n > {_LSH_BUCKET_CAP} AND doc_id != bucket_rep
  )
)
"""


def _lsh_bands_df(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) rows: the signature banded 4x4, one
    codegen transform + explode — the only corpus-sized shuffle key in
    the LSH chain."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_N_BANDS - 1)),
                lambda bi: F.struct(
                    bi.alias("band_idx"),
                    F.concat_ws(
                        ",",
                        F.element_at(F.col("signature"), bi * 4 + 1),
                        F.element_at(F.col("signature"), bi * 4 + 2),
                        F.element_at(F.col("signature"), bi * 4 + 3),
                        F.element_at(F.col("signature"), bi * 4 + 4),
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")


@query(
    "d04_minhash_lsh_pairs",
    oracle=f"WITH {_SQL_LSH_CTES.strip()}\nSELECT id_a, id_b FROM lsh_pairs",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def _lsh_candidate_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with the per-bucket skew guard, persisted
    once per session (d08/d10/d15/d16 all consume this table).

    The bucket stats (count, min doc_id) come from one window over
    (band_idx, band_key) — the same key the self-join shuffles on, so
    the window's exchange is reused by the join. Buckets over the cap
    (default _LSH_BUCKET_CAP, tunable via spark.graft.lshBucketCap)
    are star-linked to the bucket's minimum doc_id: linear pairs per
    bucket instead of quadratic, same duplicate-cluster connectivity.
    d20_lsh_bucket_audit surfaces how many buckets the cap actually
    fired on, so operators can see the guard working instead of
    trusting it blindly."""
    cap = _lsh_bucket_cap(spark)

    def build() -> DataFrame:
        bands = _lsh_bands_df(_minhash_signatures_df(spark, sf_dir))
        w = Window.partitionBy("band_idx", "band_key")
        counted = bands.select(
            "doc_id",
            "band_idx",
            "band_key",
            F.count(F.lit(1)).over(w).alias("bucket_n"),
            F.min("doc_id").over(w).alias("bucket_rep"),
        )
        small = counted.filter(F.col("bucket_n") <= cap)
        a, b = small.alias("a"), small.alias("b")
        all_pairs = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        star = counted.filter(
            (F.col("bucket_n") > cap) & (F.col("doc_id") != F.col("bucket_rep"))
        ).select(
            F.col("bucket_rep").alias("id_a"), F.col("doc_id").alias("id_b")
        )
        return all_pairs.unionByName(star).distinct()

    # The cap is part of the cache identity: a session that changes the
    # knob must not be served pairs computed under a different cap.
    return _cached_intermediate(spark, sf_dir, f"lsh_pairs-c{cap}", build)


def d04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature (4 bands x 4
    rows), shuffle only (band_idx, band_key), join within buckets.
    This is the scale path — candidates ~ O(dups), not O(n^2) — and the
    per-bucket cap guards the one residual quadratic risk (a template-
    spam bucket) by star-linking oversized buckets; see
    _lsh_candidate_pairs_df."""
    return _lsh_candidate_pairs_df(spark, sf_dir)


@query(
    "d20_lsh_bucket_audit",
    oracle=f"""
WITH {_SQL_LSH_CTES.strip()},
bs AS (
  SELECT band_idx, band_key, COUNT(*) AS bucket_n
  FROM bands GROUP BY 1, 2
)
SELECT band_idx,
       COUNT(*) AS n_buckets,
       MAX(bucket_n) AS max_bucket_n,
       CAST(SUM(CASE WHEN bucket_n > {_LSH_BUCKET_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped_buckets,
       CAST(SUM(CASE WHEN bucket_n > {_LSH_BUCKET_CAP} THEN bucket_n - 1
                     ELSE (bucket_n * (bucket_n - 1)) // 2 END)
            AS BIGINT) AS n_candidate_pairs
FROM bs GROUP BY 1
""",
    tags=("dedup", "lsh", "observability"),
    bench=True,
)
def d20_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the LSH skew guard: per band, the bucket
    count, the largest bucket, how many buckets exceeded the cap
    (n_capped_buckets — the metric that shows the guard FIRING rather
    than being trusted blindly), and the candidate-pair budget the d04
    join will actually pay under the cap-and-star-link rule. On a
    healthy corpus n_capped_buckets is 0 everywhere; a template-spam
    crawl shows up here before it shows up as a hot task.

    Scale shape: one hash aggregate over the same (band_idx, band_key)
    key d04 shuffles on, then a 4-row rollup — strictly cheaper than
    the join it audits."""
    cap = _lsh_bucket_cap(spark)
    bands = _lsh_bands_df(_minhash_signatures_df(spark, sf_dir))
    bs = bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    pair_budget = F.when(
        F.col("bucket_n") > cap, F.col("bucket_n") - 1
    ).otherwise(
        ((F.col("bucket_n") * (F.col("bucket_n") - 1)) / 2).cast("long")
    )
    return bs.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_n").alias("max_bucket_n"),
        F.sum(F.when(F.col("bucket_n") > cap, 1).otherwise(0)).alias(
            "n_capped_buckets"
        ),
        F.sum(pair_budget).alias("n_candidate_pairs"),
    )


@query(
    "d08_dup_components",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES.strip()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
)
SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
""",
    tags=("dedup", "iterative", "graph"),
    bench=True,
)
def d08_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters from the LSH candidate pairs: connected
    components by iterative min-label propagation (label = smallest
    reachable doc_id), the survivor-selection step after candidate
    generation. Converges in graph-diameter iterations with early stop;
    lineage is truncated with localCheckpoint each round so the plan
    doesn't grow with the iteration count (at scale: same loop, with
    the label table checkpointed to reliable storage instead). The
    oracle computes the same components via a recursive CTE."""
    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .localCheckpoint()
    )
    labels = (
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("doc_id"), F.col("u").alias("component"))
        .localCheckpoint()
    )
    changed = 0
    # 21 iterations = up to 20 productive rounds (the diameter bound)
    # plus the one quiet round that CONFIRMS convergence — a
    # diameter-20 chain legitimately changes on all 20 productive
    # rounds and must not be rejected.
    for _ in range(21):
        neigh = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("component").alias("ncomp"))
        )
        new_labels = (
            labels.join(neigh, labels.doc_id == neigh.u, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("ncomp"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "doc_id")
            .filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # A dup graph deeper than the round bound would otherwise return
        # silently HALF-MERGED components — fail loudly instead and point
        # at the diameter-independent algorithm.
        raise RuntimeError(
            "d08 label propagation did not converge within 20 rounds "
            "(dup-graph diameter > 20); use d21_scalable_components "
            "(alternating star, O(log n) rounds) for deep graphs"
        )
    return labels


@query(
    "d21_scalable_components",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES.strip()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
)
SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
""",
    tags=("dedup", "iterative", "graph", "scale"),
    bench=True,
)
def d21_scalable_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same duplicate components as d08, by alternating
    large-star/small-star (operators/graph.py; Kiveris et al. SoCC'14)
    instead of min-label propagation. Propagation converges in
    graph-DIAMETER rounds — near-dup clusters are usually shallow, but
    a chained-paraphrase/crawl-ring corpus makes the dup graph a long
    path, and at 100 TB each extra round is a full edge-list shuffle.
    The star alternation converges in O(log^2 n) rounds regardless of
    diameter (a 4,096-hop chain: 13 alternations measured vs ~4,095
    propagation rounds; see BASELINE.md's chain-stress row). Same output
    contract as d08 (component = smallest reachable doc_id), same
    recursive-CTE oracle; the equivalence of the two engines' outputs
    is additionally pinned test-side."""
    from ..operators.graph import connected_components_star

    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    return connected_components_star(pairs, "id_a", "id_b")


_BFS_MAX_HOPS = 10


@query(
    "d22_seed_reachability",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES.strip()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
walk(doc_id, hop) AS (
  SELECT u, 0 FROM (SELECT DISTINCT u FROM edges) WHERE u % 10 = 0
  UNION
  SELECT e.v, w.hop + 1
  FROM walk w JOIN edges e ON e.u = w.doc_id
  WHERE w.hop < {_BFS_MAX_HOPS}
)
SELECT doc_id, MIN(hop) AS min_hops FROM walk GROUP BY doc_id
""",
    tags=("dedup", "graph", "iterative", "bfs"),
)
def d22_seed_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance through the near-dup graph from a seed set
    (every 10th doc_id, standing in for a flagged/eval list) — the 'contamination blast radius' question: which
    documents are transitively connected to a flagged document, and how
    many duplication hops away. Unlike components (d08/d21), DISTANCE
    genuinely needs level-synchronous iteration; no window idiom
    expresses it.

    Spark side is a frontier BFS: per hop, join the frontier to the
    edge list, dedupe, anti-join out already-visited nodes — the
    frontier stays minimal (each node expands exactly once corpus-wide,
    the at-scale property), lineage truncated per hop. The DuckDB
    oracle states the same walk as a recursive CTE with UNION
    frontier-dedup. Spark 4.1 parses WITH RECURSIVE too but only with
    UNION ALL (no per-step dedup — walk-count explosion on cyclic
    graphs), so the engine keeps recursion for the oracle and ships
    the frontier loop; the bounded-recursion agreement between the two
    Spark forms is pinned in tests/test_graph_components.py."""
    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .localCheckpoint()
    )
    seeds = (
        edges.select("u").distinct().filter(F.col("u") % 10 == 0)
        .select(F.col("u").alias("doc_id"), F.lit(0).alias("min_hops"))
        .localCheckpoint()
    )
    visited = seeds
    frontier = seeds.select("doc_id")
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.doc_id == edges.u)
            .select(F.col("v").alias("doc_id"))
            .distinct()
            .join(visited.select("doc_id"), "doc_id", "left_anti")
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(
            nxt.select("doc_id", F.lit(hop).alias("min_hops"))
        ).localCheckpoint()
        frontier = nxt
    return visited


_N_SIMHASH_BITS = 60


@query(
    "d05_simhash",
    oracle=f"""
SELECT doc_id,
  CAST(list_sum(list_transform(generate_series(0, {_N_SIMHASH_BITS - 1}),
    i -> CASE WHEN list_sum(list_transform(hashes,
                h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS simhash
FROM (
  SELECT doc_id,
    list_transform(list_distinct(regexp_split_to_array({_SQL_NORM}, '\\s+')),
      t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hashes
  FROM documents WHERE {_SQL_NORM} != ''
)
""",
    tags=("dedup", "simhash"),
)
def d05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from distinct-token md5 hashes —
    entirely nested higher-order expressions, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents").filter(
        normalized_text(F.col("text")) != ""
    )
    hashes = F.transform(
        F.array_distinct(F.split(normalized_text(F.col("text")), r"\s+")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )
    simhash = F.expr(
        f"""
        aggregate(
          transform(sequence(0, {_N_SIMHASH_BITS - 1}),
            i -> IF(aggregate(hashes,
                      0L, (acc, h) -> acc + IF((h >> i) & 1 = 1, 1L, -1L)) > 0,
                    shiftleft(1L, i), 0L)),
          0L, (acc, x) -> acc + x)
        """
    )
    return docs.select("doc_id", hashes.alias("hashes")).select(
        "doc_id", simhash.alias("simhash")
    )


@query(
    "d06_simhash_hamming_pairs",
    oracle=f"""
WITH sims AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(generate_series(0, {_N_SIMHASH_BITS - 1}),
      i -> CASE WHEN list_sum(list_transform(hashes,
                  h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS simhash
  FROM (
    SELECT doc_id,
      list_transform(list_distinct(regexp_split_to_array({_SQL_NORM}, '\\s+')),
        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hashes
    FROM documents WHERE {_SQL_NORM} != ''
  )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sims a JOIN sims b
  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
""",
    tags=("dedup", "simhash"),
)
def d06_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming distance between SimHashes of nearby document pairs
    (banded id window stands in for an LSH prefix-bucket join)."""
    sims = d05_simhash(spark, sf_dir)
    a, b = sims.alias("a"), sims.alias("b")
    return a.join(
        b,
        (F.col("b.doc_id") > F.col("a.doc_id"))
        & (F.col("b.doc_id") <= F.col("a.doc_id") + 3),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
            "hamming"
        ),
    )


_SUBSTR_W = 8  # token-window width for exact-substring dedup


@query(
    "d17_substring_dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
  FROM documents
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(toks) - {_SUBSTR_W - 1}),
           i -> array_to_string(toks[i:i+{_SUBSTR_W - 1}], ' '))) AS wins
  FROM t WHERE len(toks) >= {_SUBSTR_W}
), p AS (
  -- hash the window EXACTLY like the Spark side (60-bit md5 prefix)
  -- so any cross-corpus collision inflates both engines identically
  SELECT doc_id, CAST(concat('0x', substr(md5(win), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, UNNEST(wins) AS win FROM w)
), c AS (
  SELECT h, COUNT(*) AS n_docs FROM p GROUP BY 1
), s AS (
  SELECT p.doc_id, COUNT(*) AS n_shared
  FROM p JOIN c ON c.h = p.h AND c.n_docs >= 2
  GROUP BY 1
)
SELECT w.doc_id, len(w.wins) AS n_windows,
       COALESCE(s.n_shared, 0) AS n_shared,
       ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / len(w.wins), 6)
         AS dup_fraction
FROM w LEFT JOIN s ON s.doc_id = w.doc_id
""",
    tags=("dedup", "substring", "text"),
    bench=True,
)
def d17_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication (the Lee et al. 2021
    'Deduplicating Training Data' signal, windowed form): every
    8-token window of every document, counted across the corpus; a
    document's dup_fraction is the share of its distinct windows that
    appear in at least one OTHER document (or twice — the count is per
    corpus occurrence of the distinct-per-doc window, so >= 2 means
    shared or internally repeated across docs). The standard
    suffix-array formulation needs a global sort of the whole corpus;
    the windowed form is the shuffle-friendly equivalent used at scale.

    Scale shape: ONE corpus pass, ONE corpus-sized shuffle, zero
    joins — windows are built per-row by one codegen transform (slice
    + concat_ws, O(n·W) per doc) and exploded as (64-bit window hash,
    doc_id) pairs; the per-window corpus count is a window aggregate
    over the hash (the same stats-over-the-shuffle-key pattern as
    d04's bucket guard), and the per-doc rollup is an ordinary hash
    aggregate (n_windows is the doc's pair count — windows are
    distinct per doc — so no join back to documents exists in the
    plan). No global sort, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.split(normalized_text(F.col("text")), r"\s+")
    n = F.size(toks)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - (_SUBSTR_W - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, _SUBSTR_W)),
        )
    )
    pairs = (
        docs.filter(n >= _SUBSTR_W)
        .select("doc_id", F.explode(wins).alias("win"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("win"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    scored = pairs.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_windows"), 6
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "t01_text_stats",
    oracle=f"""
SELECT doc_id,
  CASE WHEN trim(text) = '' OR text IS NULL THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
  length(text) AS n_chars_actual,
  n_chars AS n_chars_declared,
  md5({_SQL_NORM}) AS fingerprint
FROM documents
""",
    tags=("text",),
)
def t01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char counts + content fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.col("n_chars").alias("n_chars_declared"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def _sql_lang_guess() -> str:
    counts = {
        k: f"len(regexp_extract_all(lower(text), '{p}'))"
        for k, p in LANG_MARKERS.items()
    }
    best = f"greatest({counts['en']}, {counts['de']}, {counts['fr']}, {counts['es']})"
    return f"""
CASE WHEN len(regexp_extract_all(text, '{CJK_PATTERN}')) > 0 THEN 'zh'
     WHEN {best} = 0 THEN 'unknown'
     WHEN {counts['en']} = {best} THEN 'en'
     WHEN {counts['de']} = {best} THEN 'de'
     WHEN {counts['fr']} = {best} THEN 'fr'
     ELSE 'es' END
"""


@query(
    "t02_language_id",
    oracle=f"""
SELECT lang AS declared_lang, {_sql_lang_guess().strip()} AS guessed_lang,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2
""",
    tags=("text", "language-id"),
)
def t02_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: stopword-marker heuristic vs the
    declared lang column."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import language_guess

    return docs.groupBy(
        F.col("lang").alias("declared_lang"),
        language_guess(F.col("text")).alias("guessed_lang"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "t03_quality_scores",
    oracle=r"""
SELECT doc_id,
  ROUND(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0.0 ELSE
    0.4 * least(CAST(length(trim(text)) AS DOUBLE) / 500.0, 1.0)
  + 0.4 * (CASE WHEN length(trim(text)) > 0
           THEN CAST(length(regexp_replace(trim(text), '[^\p{L}]', '', 'g')) AS DOUBLE)
                / length(trim(text)) ELSE 0.0 END)
  + 0.2 * least((CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) > 0
           THEN CAST(length(trim(text)) AS DOUBLE)
                / (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
           ELSE 0.0 END) / 8.0, 1.0)
  END, 6) AS quality
FROM documents
""",
    tags=("text", "quality"),
)
def t03_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length/alpha-ratio/word-length)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


@query(
    "t04_bpe_token_count",
    oracle=f"""
SELECT doc_id,
  CASE WHEN text IS NULL THEN 0
       ELSE len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}')) END AS n_bpe_tokens,
  CASE WHEN trim(text) = '' OR text IS NULL THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens
FROM documents
""",
    tags=("text", "tokenization"),
)
def t04_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting both ways: whitespace tokens and BPE-style
    pre-tokens (letter runs / digit runs / single symbols — the split a
    GPT-style tokenizer applies before merges). Pure regexp built-ins,
    one corpus pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        token_count(F.col("text")).alias("n_ws_tokens"),
    )


@query(
    "t05_rolling_hash",
    oracle=f"""
SELECT doc_id,
  CASE WHEN {_SQL_NORM} = '' THEN 0
       ELSE list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split({_SQL_NORM}, ''),
                               ch -> CAST(ascii(ch) AS BIGINT))),
              (acc, c) -> (acc * {ROLLING_BASE} + c) % {ROLLING_MOD})
  END AS content_hash
FROM documents
""",
    tags=("text", "fingerprint"),
)
def t05_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (base 31 mod 1e9+7 over the
    normalized text's code points) as a fold with the aggregate
    higher-order function — the incremental-hash primitive for
    content-defined chunking, computed without leaving codegen."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_hash(F.col("text")).alias("content_hash")
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # 8-token overlap


@query(
    "t06_doc_chunking",
    oracle=f"""
SELECT doc_id, CAST(s / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
  array_to_string(toks[s+1 : s+{_CHUNK_SIZE}], ' ') AS chunk_text,
  least({_CHUNK_SIZE}, len(toks) - s) AS n_tokens
FROM (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks)-1, {_CHUNK_STRIDE})) AS s
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
        FROM documents WHERE {_SQL_NORM} != '')
)
""",
    tags=("text", "chunking", "rag"),
)
def t06_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG document chunking: overlapping 32-token windows with a
    24-token stride (8-token overlap) — the passage-splitting stage the
    reference skips by embedding whole messages. Pure sequence+slice
    expressions; one output row per chunk, no Python. At scale this runs
    before the embed stage, multiplying rows by ~n_tokens/stride —
    budget the embed batch size accordingly."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text(F.col("text"))
    docs = docs.filter(norm != "").select(
        "doc_id", F.split(norm, r"\s+").alias("toks")
    )
    n = F.size("toks")
    chunks = docs.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(_CHUNK_STRIDE))).alias("s"),
    )
    return chunks.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.concat_ws(
            " ", F.slice("toks", F.col("s") + 1, F.lit(_CHUNK_SIZE))
        ).alias("chunk_text"),
        F.least(F.lit(_CHUNK_SIZE), F.col("n") - F.col("s")).alias("n_tokens"),
    )


_SEG_SIZE = 16


def _segments_with_share_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document non-overlapping _SEG_SIZE-token segments joined with
    each segment's cross-corpus distinct-document count (grouped on
    md5 so both engines share collision behavior). Consumed by t19 and
    the p10 manifest; materialized ONCE per session through the
    intermediate seam (restartable parquet mode included), so the
    corpus-wide agreement shuffle is never recomputed per consumer."""

    def build() -> DataFrame:
        return _build_segments_with_share_counts(spark, sf_dir)

    return _cached_intermediate(spark, sf_dir, "segments", build)


def _build_segments_with_share_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text(F.col("text"))
    toks = docs.filter(norm != "").select(
        "doc_id", F.split(norm, r"\s+").alias("toks")
    )
    n = F.size("toks")
    segs = toks.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(_SEG_SIZE))).alias("s"),
    ).select(
        "doc_id",
        (F.col("s") / _SEG_SIZE).cast("int").alias("seg_idx"),
        F.concat_ws(" ", F.slice("toks", F.col("s") + 1, F.lit(_SEG_SIZE))).alias(
            "seg_text"
        ),
        F.least(F.lit(_SEG_SIZE), F.col("n") - F.col("s")).alias("n_toks"),
    ).withColumn("h", F.md5("seg_text"))
    shared = segs.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return segs.join(shared, "h")


@query(
    "t19_segment_dedup_clean",
    oracle=f"""
WITH segs AS (
  SELECT doc_id, CAST(s / {_SEG_SIZE} AS INT) AS seg_idx,
         array_to_string(toks[s+1 : s+{_SEG_SIZE}], ' ') AS seg_text,
         least({_SEG_SIZE}, len(toks) - s) AS n_toks
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(0, len(toks)-1, {_SEG_SIZE})) AS s
    FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
          FROM documents WHERE {_SQL_NORM} != '')
  )
), shared AS (
  SELECT md5(seg_text) AS h, COUNT(DISTINCT doc_id) AS n_docs
  FROM segs GROUP BY 1
)
SELECT doc_id,
  COUNT(*) AS n_segments,
  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_shared_segments,
  COALESCE(string_agg(CASE WHEN n_docs < 2 THEN seg_text END,
                      ' ' ORDER BY seg_idx), '') AS cleaned_text,
  ROUND(SUM(CASE WHEN n_docs < 2 THEN n_toks ELSE 0 END) * 1.0
        / SUM(n_toks), 6) AS retained_fraction
FROM segs JOIN shared ON md5(segs.seg_text) = shared.h
GROUP BY doc_id
""",
    tags=("dedup", "text", "curation", "materialization"),
    bench=True,
)
def t19_segment_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup WITH materialization — the RefinedWeb/Lee-et-al
    step d17 only measures: split every document into non-overlapping
    16-token segments, find segments that recur verbatim in >=2
    distinct documents (boilerplate, license headers, templated spans),
    and emit each document's CLEANED text — the surviving segments
    rejoined in order — plus the retention accounting a curation report
    needs.

    Scale shape: the cross-document agreement shuffle carries
    (md5(segment), doc_id) — 32-byte keys, never segment text; the only
    place text moves is the final per-document regroup that builds the
    cleaned string, which is the output itself. count(distinct doc_id)
    is Catalyst's two-phase partial-distinct; the ordered rejoin is a
    sort_array over an already-grouped row, not a window. Both engines
    group on md5 so hash-collision behavior is identical (the d17
    advice pattern)."""
    joined = _segments_with_share_counts(spark, sf_dir)
    keep = F.col("n_docs") < 2
    kept_segs = F.array_sort(
        F.collect_list(F.when(keep, F.struct("seg_idx", "seg_text")))
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(~keep, 1).otherwise(0)).alias("n_shared_segments"),
        F.concat_ws(
            " ", F.transform(kept_segs, lambda x: x["seg_text"])
        ).alias("cleaned_text"),
        F.round(
            F.sum(F.when(keep, F.col("n_toks")).otherwise(0))
            / F.sum("n_toks"),
            6,
        ).alias("retained_fraction"),
    )


@query(
    "s07_scalar_quantization",
    oracle="""
SELECT vec_id,
  ROUND(amin, 6) AS qmin, ROUND(amax, 6) AS qmax,
  ROUND(CASE WHEN scale = 0 THEN 0.0 ELSE
    list_reduce(list_prepend(0.0,
      list_transform(e, x -> abs(amin + round((x - amin) / scale) * scale - x))),
      (acc, x) -> acc + x) / len(e) END, 6) AS mean_abs_err
FROM (
  SELECT vec_id, e, amin, amax, (amax - amin) / 255.0 AS scale
  FROM (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
           list_min(CAST(embedding AS DOUBLE[])) AS amin,
           list_max(CAST(embedding AS DOUBLE[])) AS amax
    FROM embeddings
  )
)
""",
    tags=("similarity", "quantization"),
)
def s07_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of the embedding column (per-vector
    min/max codebook) with reconstruction-error accounting — the 4x
    storage cut that matters when 100 TB of vectors hit the disk/network.
    Quantize/dequantize/error stay elementwise array expressions; the
    oracle replays the identical arithmetic."""
    em = load_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sides = em.select(
        "vec_id",
        e.alias("e"),
        F.array_min(e).alias("amin"),
        F.array_max(e).alias("amax"),
    ).select(
        "vec_id", "e", "amin", "amax",
        ((F.col("amax") - F.col("amin")) / 255.0).alias("scale"),
    )
    err = F.aggregate(
        F.transform(
            F.col("e"),
            lambda x: F.abs(
                F.col("amin")
                + F.round((x - F.col("amin")) / F.col("scale"), 0) * F.col("scale")
                - x
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size("e")
    return sides.select(
        "vec_id",
        F.round("amin", 6).alias("qmin"),
        F.round("amax", 6).alias("qmax"),
        F.round(
            F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(err), 6
        ).alias("mean_abs_err"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@query(
    "s01_topk_cosine",
    oracle="""
SELECT b.vec_id,
  ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])), 6) AS sim
FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE b.vec_id != 0
ORDER BY sim DESC, b.vec_id LIMIT 10
""",
    tags=("similarity", "topk"),
    bench=True,
)
def s01_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 by cosine to one query vector: single
    narrow corpus pass + TakeOrderedAndProject (no global sort)."""
    em = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        em.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    )
    return (
        em.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


@query(
    "s02_knn_join",
    oracle="""
SELECT q_id, vec_id, sim, rank FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                 CAST(q.embedding AS DOUBLE[])), 6) AS sim,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                         CAST(c.embedding AS DOUBLE[]),
                         CAST(q.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id < 8) q
  JOIN (SELECT * FROM embeddings WHERE vec_id >= 8) c ON true
) WHERE rank <= 5
""",
    tags=("similarity", "knn"),
    bench=True,
)
def s02_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (8 queries x corpus, k=5): one GEMM per corpus
    Arrow batch against the collected queries, per-query window top-k."""
    from ..operators.similarity import knn_join

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = em.filter(F.col("vec_id") >= 8)
    return knn_join(queries, corpus, k=5)


@query(
    "s03_embedding_near_dup",
    oracle="""
WITH sides AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
    sqrt(list_reduce(list_prepend(0.0,
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
         (acc, x) -> acc + x)) AS nrm
  FROM embeddings
)
SELECT id_a, id_b, sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ROUND(list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])),
          (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) AS sim
  FROM sides a JOIN sides b ON a.label = b.label AND b.vec_id > a.vec_id
  WHERE a.nrm * b.nrm != 0
) WHERE sim > 0.2
""",
    tags=("similarity", "dedup"),
)
def s03_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on label so the
    self-join is per-block (the blocking key is what keeps this from
    going quadratic at 100 TB; swap label for an LSH bucket in the
    unblocked case). Norms are computed once per ROW before the join —
    as attribute references they can't be inlined into the per-pair
    expression, so each candidate pair costs one dot-product fold
    instead of three (3x measured on the O(pairs) hot path)."""
    from ..functions.vector import dot, l2_norm

    em = load_table(spark, sf_dir, "embeddings")
    sides = em.select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    a, b = sides.alias("a"), sides.alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    sim = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding")) / denom, 6
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("b.vec_id") > F.col("a.vec_id")),
        )
        .filter(denom != 0.0)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") > 0.2)
    )


@query(
    "s04_label_centroids",
    oracle="""
SELECT label, pos,
  ROUND(SUM(CAST(val AS DOUBLE)) / COUNT(*), 6) AS centroid_val
FROM (
  SELECT label, unnest(embedding) AS val,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
)
GROUP BY label, pos
""",
    tags=("similarity", "aggregation"),
)
def s04_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (dimension-wise mean) via posexplode +
    re-aggregate — the IVF coarse-quantizer training step."""
    em = load_table(spark, sf_dir, "embeddings")
    return (
        em.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "val")
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("double")) / F.count(F.lit(1)), 6
            ).alias("centroid_val")
        )
    )


@query(
    "s05_ivf_search",
    oracle=None,  # multi-stage centroid-pruned search; quality pinned by tests/test_ann_recall.py
    tags=("similarity", "ann"),
)
def s05_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned ANN (operators/similarity.py ivf_search): assign
    every corpus vector to its nearest label-centroid cell, then search
    only each query's nprobe=2 closest cells — a query touches
    nprobe/K of the corpus instead of all of it. Recall follows the
    pruning honestly (~nprobe/K on unclustered data, far higher when
    cells match real structure); tests/test_ann_recall.py measures both
    the recall-vs-nprobe tradeoff and the candidate pruning factor."""
    from ..operators.similarity import ivf_search

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_search(em, queries, nprobe=2, k=5)


_N_PLANES = 8
_PLANE_DENOM = 268_435_456.0  # 2^28, matches the 7-hex-digit hash slice


def _hyperplane(p: int, dim: int) -> list[float]:
    """Component d of plane p = md5('{p}:{d}') first 7 hex digits scaled
    to [-0.5, 0.5). Pure arithmetic on exactly-representable ints, so
    the DuckDB oracle rebuilds the identical plane."""
    import hashlib

    return [
        int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:7], 16) / _PLANE_DENOM
        - 0.5
        for d in range(1, dim + 1)
    ]


# Single source of truth for the oracle-side bucket derivation (s08
# emits it directly; s15 joins through it).
_SQL_HYPERPLANE_BUCKETS = f"""
hp_buckets AS (
  SELECT vec_id,
    CAST(list_sum(list_transform(generate_series(0, {_N_PLANES - 1}), p ->
      CASE WHEN list_reduce(list_prepend(0.0,
             list_transform(generate_series(1, len(embedding)), d ->
               CAST(embedding[d] AS DOUBLE)
               * (CAST(concat('0x', substr(md5(concat(p, ':', d)), 1, 7)) AS BIGINT)
                  / {_PLANE_DENOM} - 0.5))),
           (acc, x) -> acc + x) > 0
      THEN 1 << p ELSE 0 END)) AS INT) AS bucket
  FROM embeddings
)
"""


@query(
    "s08_hyperplane_lsh_buckets",
    oracle=f"""
WITH {_SQL_HYPERPLANE_BUCKETS.strip()}
SELECT vec_id, bucket FROM hp_buckets
""",
    tags=("similarity", "lsh", "ann"),
)
def s08_hyperplane_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH for cosine (SimHash over embeddings): 8
    deterministic md5-derived hyperplanes -> 8-bit bucket per vector.
    The LSH-bucketed ANN alternative to IVF (s05): near vectors agree on
    most plane signs, so candidate search joins within buckets (or
    within small Hamming radius). Planes enter the plan as literal
    arrays; one dot fold per plane per row, no shuffle. The plane
    dimension comes from PipelineConfig (model-determined, exactly as
    the reference's 1536/1024 titan dims are config, not data) — no
    driver-side action at plan-build time."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.select("vec_id", _hyperplane_bucket_col().alias("bucket"))


def _hyperplane_bucket_col(col: str = "embedding"):
    """The s08 bucket as a reusable Column: 8 md5-derived hyperplane
    sign bits packed into an int. Planes are literal arrays — one dot
    fold per plane per row, fully inside codegen, no shuffle."""
    from ..config import PipelineConfig
    from ..functions.vector import dot

    dim = PipelineConfig().resolved_dim()
    bucket = None
    for p in range(_N_PLANES):
        plane = F.array(*[F.lit(x) for x in _hyperplane(p, dim)])
        bit = F.when(dot(F.col(col), plane) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


@query(
    "s15_knn_graph",
    oracle=f"""
WITH {_SQL_HYPERPLANE_BUCKETS.strip()},
sides AS (
  SELECT e.vec_id, hb.bucket, CAST(e.embedding AS DOUBLE[]) AS v,
    sqrt(list_reduce(list_prepend(0.0,
           list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)),
         (acc, x) -> acc + x)) AS nrm
  FROM embeddings e JOIN hp_buckets hb ON e.vec_id = hb.vec_id
)
SELECT vec_id, nbr_id, sim, rank FROM (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
    ROUND(list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
          (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) AS sim,
    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      ORDER BY ROUND(list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
          (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) DESC, b.vec_id) AS rank
  FROM sides a JOIN sides b
    ON a.bucket = b.bucket AND a.vec_id != b.vec_id
  WHERE a.nrm * b.nrm != 0
) WHERE rank <= 3
""",
    tags=("similarity", "knn", "lsh", "graph", "ann"),
    bench=True,
)
def s15_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine k-NN GRAPH over the whole embedding corpus —
    the all-to-all analogue of s02's query-side k-NN join, and the
    candidate structure SemDeDup-style pipelines and graph-based
    curation start from. The brute-force graph is O(n^2); here the
    hyperplane-LSH bucket (s08) is the blocking key, so the self-join
    is per-bucket — the same candidate-generation-then-verify shape as
    d10, transplanted to embedding space. Per node, the top-3 in-bucket
    neighbors by exact cosine via window rank: Catalyst plans the rank
    filter as WindowGroupLimit, so each shuffle partition keeps only
    its local top-k before anything ships.

    Scale: candidate volume ~ sum of bucket^2; at 100 TB you widen
    _N_PLANES (smaller buckets) or band multiple bucket codes exactly
    like MinHash-LSH (d04) — the plan shape is unchanged. Norms are
    computed once per ROW before the join (the s03 trick), one dot fold
    per surviving pair."""
    from ..functions.vector import dot, l2_norm

    em = load_table(spark, sf_dir, "embeddings")
    sides = em.select(
        "vec_id",
        _hyperplane_bucket_col().alias("bucket"),
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a, b = sides.alias("a"), sides.alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    sim = F.round(dot(F.col("a.embedding"), F.col("b.embedding")) / denom, 6)
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("nbr_id").asc()
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .filter(denom != 0.0)
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@query(
    "s06_kmeans_cells",
    oracle=None,  # iterative (3 Lloyd's steps); pinned by a numpy reference test
    tags=("similarity", "iterative", "clustering"),
)
def s06_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-means cell assignment over the embedding corpus
    (operators/kmeans.py): per-iteration narrow argmin assignment + one
    (cell, pos) shuffle for re-estimation; centroids stay driver-side.
    Deterministic init (k lowest ids) — correctness pinned against numpy
    in tests/test_kmeans_skew.py."""
    from ..operators.kmeans import kmeans_assign

    em = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(em, k=8, iterations=3)


@query(
    "d14_semantic_dedup",
    oracle=None,  # k-means stage is iterative; semantics pinned by tests/test_semdedup.py
    tags=("dedup", "similarity", "clustering"),
)
def d14_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (public recipe, arXiv:2303.09540): k-means-cluster the
    embedding corpus, compare cosine only WITHIN a cell, keep the
    lowest-id representative of every near-identical group
    (operators/semdedup.py). The cluster cell is the blocking key that
    keeps the pair comparison sub-quadratic at 100 TB; the survivor
    rule is a single left-anti join, no iteration beyond Lloyd's.
    Threshold 0.4 suits the synthetic low-correlation embeddings (real
    sentence embeddings cluster far tighter; production uses ~0.95)."""
    from ..operators.semdedup import semantic_dedup

    em = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(em, k=8, iterations=3, threshold=0.4)


# d34: d14's SemDeDup with the coarse quantizer SEEDED instead of
# Lloyd-iterated (the s20b recipe applied to the dedup family), so the
# embedding-cosine near-dup path gets a hash-exact driver row.
_D34_CELLS = 8
_D34_DIM = 64
_D34_TAU = 0.4


@query(
    "d34_semantic_dedup_seeded",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_D34_DIM}
),
cents AS (
  SELECT rn - 1 AS cell, emb FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY md5('d34c:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM valid
  ) WHERE rn <= {_D34_CELLS}
),
assign AS (
  SELECT vec_id, cell, emb FROM (
    SELECT v.vec_id, c.cell, v.emb, ROW_NUMBER() OVER (
      PARTITION BY v.vec_id
      ORDER BY ROUND(list_reduce(list_prepend(0.0,
        list_transform(generate_series(1, {_D34_DIM}),
          i -> (v.emb[i] - c.emb[i]) * (v.emb[i] - c.emb[i]))),
        (acc, x) -> acc + x), 6), c.cell) AS arn
    FROM valid v, cents c
  ) WHERE arn = 1
),
dom AS (
  SELECT a.vec_id, COUNT(*) AS n_dups_lower
  FROM assign a JOIN assign b
    ON b.cell = a.cell AND b.vec_id < a.vec_id
  WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) >= {_D34_TAU}
  GROUP BY a.vec_id
)
SELECT a.vec_id, a.cell,
       CAST(COALESCE(d.n_dups_lower, 0) AS BIGINT) AS n_dups_lower,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM assign a LEFT JOIN dom d ON d.vec_id = a.vec_id
""",
    tags=("dedup", "similarity", "clustering", "embedding"),
    bench=True,
)
def d34_semantic_dedup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, oracle-certified HASH-EXACT: d14's recipe (cluster
    the embedding corpus, compare cosine only WITHIN a cell, keep the
    lowest-id representative of every near-identical group) with the
    k-means coarse quantizer replaced by 8 md5-SAMPLED
    corpus vectors (``md5('d34c:' || vec_id)`` rank — the s20b/s12/d31
    engine-portable seeding), which makes every stage relational:
    assignment is an argmin fold over literal centroids tie-broken on
    (ROUND(dist, 6), cell), and the within-cell pair scan emits, per
    vector, the count of LOWER-ID cellmates with ROUND(cosine, 6) >=
    0.4 — kept = that count is zero. This is the
    embedding-cosine near-dup operator with a full value certificate;
    d14 keeps the Lloyd-trained quality variant (rows-only, numpy pin
    in tests/test_semdedup.py) and the two share the serving algebra.

    Scale shape: assignment is a narrow per-row fold (no exchange);
    the only shuffle keys on the cell — the SemDeDup blocking key that
    keeps the comparison sub-quadratic (cells are ~n/K sized; at 100 TB
    you raise K so cells stay bounded, exactly like d04's LSH bucket
    cap); the dominator count is one grouped aggregate over
    within-cell pairs. Threshold 0.4 suits the synthetic
    low-correlation embeddings (production sentence embeddings use
    ~0.95, which shrinks pair counts further)."""
    from ..functions.vector import dot, l2_norm

    dim = _D34_DIM

    def sq_l2(a, b):
        return F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    em = load_table(spark, sf_dir, "embeddings")
    # the centroid-argmin assignment (8 interpreted folds/row) and the
    # within-cell pair scan (one fold per pair, quadratic in cell size)
    # both run upstream of the first exchange, i.e. at the SCAN's
    # parallelism — spread the single-split fixture scan or the whole
    # quadratic stage serializes on one core (spread_compute no-ops on
    # a many-split production scan)
    valid = spread_compute(
        em.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == dim)
        ).select("vec_id", "embedding"),
        "vec_id",
    )

    h = F.md5(F.concat(F.lit("d34c:"), F.col("vec_id").cast("string")))
    cent_rows = valid.orderBy(h, "vec_id").limit(_D34_CELLS).collect()
    centroids = [[float(x) for x in r.embedding] for r in cent_rows]
    cent_flat = F.lit(
        [x for c in centroids for x in c]
    ).cast("array<double>")

    scored = F.array(
        *[
            F.struct(
                F.round(
                    sq_l2(
                        F.col("embedding"),
                        F.slice(cent_flat, c * dim + 1, dim),
                    ),
                    6,
                ).alias("d"),
                F.lit(c).alias("i"),
            )
            for c in range(_D34_CELLS)
        ]
    )
    cell = F.aggregate(
        scored,
        F.element_at(scored, 1),
        lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
    )["i"]
    # norms factored OUT of the pair expression: higher-order-function
    # folds evaluate interpreted (outside whole-stage codegen), so the
    # within-cell pair scan must pay ONE dot fold per pair, not
    # dot + two norm folds — same doubles, same oracle parity
    # (cosine = dot / (sqrt(a2) * sqrt(b2)), exactly
    # cosine_similarity's association), ~3x less interpreted work on
    # the quadratic-in-cell-size path
    assign = valid.select(
        "vec_id",
        "embedding",
        cell.alias("cell"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )

    b = assign.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("cell").alias("b_cell"),
        F.col("nrm").alias("b_nrm"),
    )
    denom = F.col("nrm") * F.col("b_nrm")
    sim6 = F.round(
        F.when(denom != 0.0, dot(F.col("embedding"), F.col("b_emb")) / denom),
        6,
    )
    dom = (
        assign.join(
            b,
            (F.col("b_cell") == F.col("cell"))
            & (F.col("b_id") < F.col("vec_id")),
        )
        .filter(sim6 >= _D34_TAU)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_dups_lower"))
    )
    return assign.join(dom, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce("n_dups_lower", F.lit(0))
        .cast("bigint")
        .alias("n_dups_lower"),
        F.when(F.col("n_dups_lower").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
    )


_N_PROJ = 8


@query(
    "s12_random_projection",
    bench=True,
    oracle=f"""
SELECT vec_id, p,
  ROUND(list_reduce(list_prepend(0.0,
    list_transform(generate_series(1, len(embedding)), d ->
      CAST(embedding[d] AS DOUBLE)
      * (CAST(concat('0x', substr(md5(concat(p, ':', d)), 1, 7)) AS BIGINT)
         / {_PLANE_DENOM} - 0.5))),
    (acc, x) -> acc + x), 6) AS proj
FROM embeddings, (SELECT UNNEST(generate_series(0, {_N_PROJ - 1})) AS p)
""",
    tags=("similarity", "projection"),
)
def s12_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection to 8 dims, long form
    (vec_id, plane p, projected value): the dimensionality-cut that
    shrinks every downstream ANN shuffle by dim/8. The
    projection matrix is the same deterministic md5-derived family as
    s08's hyperplanes — literal arrays in the plan, one dot fold per
    output dim, zero shuffle, zero Python; the DuckDB oracle rebuilds
    the identical matrix from the same hex arithmetic. Distance
    preservation is measured in tests/test_semdedup.py."""
    from ..config import PipelineConfig
    from ..functions.vector import dot

    em = load_table(spark, sf_dir, "embeddings")
    dim = PipelineConfig().resolved_dim()
    projected = [
        F.round(
            dot(F.col("embedding"), F.array(*[F.lit(x) for x in _hyperplane(p, dim)])),
            6,
        ).alias(f"pr{p}")
        for p in range(_N_PROJ)
    ]
    wide = em.select("vec_id", *projected)
    # long form keeps the output free of array columns (driver-hash safe)
    pairs = F.array(
        *[
            F.struct(F.lit(p).cast("bigint").alias("p"), F.col(f"pr{p}").alias("proj"))
            for p in range(_N_PROJ)
        ]
    )
    return wide.select("vec_id", F.inline(pairs))


_RANGE_TAU = 0.2


@query(
    "s13_range_search",
    oracle=f"""
SELECT b.vec_id,
  ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])), 6) AS sim
FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 7) q
WHERE b.vec_id != 7
  AND NOT isnan(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                       CAST(q.embedding AS DOUBLE[])))
  AND ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                   CAST(q.embedding AS DOUBLE[])), 6)
      >= {_RANGE_TAU}
""",
    tags=("similarity", "range-search"),
    bench=True,
)
def s13_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search (threshold query, the complement of top-k —
    the reference delegates both to OpenSearch k-NN,
    KDS-P/index-creation-function/lambda_function.py:72-80): every
    corpus vector with sim >= tau to the query. Unlike top-k there is
    NO ordering step at all — one broadcast of the query vector, one
    narrow codegen'd scan-and-filter, output proportional to matches.
    At 100 TB this is the cheapest possible similarity plan: zero
    shuffle, zero window, and the filter prunes on the rounded score
    both here and in the oracle so the threshold edge is stable.
    Zero-norm vectors are excluded identically on both engines: Spark's
    cosine_similarity yields NULL (dropped by the >= filter), and the
    oracle drops DuckDB's NaN explicitly — NaN would otherwise compare
    above every threshold."""
    em = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        em.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("q_vec"))
    )
    return (
        em.filter(F.col("vec_id") != 7)
        .crossJoin(q)
        .select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= _RANGE_TAU)
    )


# ---------------------------------------------------------------------------
# Embedding pipeline (UDF-backed; rows-only checks)
# ---------------------------------------------------------------------------


@query(
    "p01_pipeline_sink_docs",
    oracle=None,  # embedding UDF is not SQL-expressible
    tags=("pipeline", "embedding"),
    bench=True,
)
def p01_pipeline_sink_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference dataflow in batch form: documents -> empty-text
    filter -> deterministic embedding (one Arrow mapInArrow stage) ->
    sink projection {passage_embedding, date, text}."""
    from ..pipeline import sink_documents

    out = sink_documents(spark, sf_dir)
    # serialized vector: the driver canonicalizes rows-only outputs too,
    # and a raw array<float> cell crashes a pandas lexsort
    return out.withColumn(
        "passage_embedding", F.to_json(F.col("passage_embedding"))
    )


@query(
    "p02_flagship_retrieval",
    oracle=None,
    tags=("pipeline", "similarity"),
)
def p02_flagship_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embed corpus + query with the same model, return top-10 by cosine
    (the end-to-end RAG retrieval path)."""
    from ..pipeline import flagship_topk

    return flagship_topk(spark, sf_dir)


_P02B_DIM = 32  # the m06 tower width
_P02B_K = 10
_P02B_QTEXT = "spark table scan fast query"  # the flagship query text


@query(
    "p02b_flagship_retrieval_exact",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM documents WHERE text IS NOT NULL AND text != ''
  ) WHERE tok != ''
),
bw AS (
  SELECT doc_id, h % {_P02B_DIM} AS bucket,
         CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS w
  FROM toks GROUP BY doc_id, h % {_P02B_DIM}
),
norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM bw GROUP BY doc_id),
qtoks AS (
  SELECT CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT unnest(regexp_split_to_array('{_P02B_QTEXT}',
                                        '[ \\t\\n\\f\\r]+')) AS tok
  ) WHERE tok != ''
),
qb AS (
  SELECT h % {_P02B_DIM} AS bucket,
         CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS w
  FROM qtoks GROUP BY h % {_P02B_DIM}
),
qn AS (SELECT SUM(w * w) AS n2 FROM qb),
dots AS (
  SELECT c.doc_id, SUM(c.w * q.w) AS dot
  FROM bw c JOIN qb q USING (bucket) GROUP BY c.doc_id
),
sims AS (
  SELECT n.doc_id,
    ROUND(COALESCE(d.dot, 0)
          / (sqrt(n.n2) * sqrt((SELECT n2 FROM qn))), 6) AS sim
  FROM norms n LEFT JOIN dots d USING (doc_id)
)
SELECT doc_id, sim FROM (
  SELECT doc_id, sim,
         ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rnk
  FROM sims
) WHERE rnk <= {_P02B_K}
""",
    tags=("pipeline", "similarity", "retrieval"),
)
def p02b_flagship_retrieval_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship reference dataflow itself — parse -> empty-text
    filter -> embed (one Arrow mapInArrow stage) -> cosine top-k
    (``KDS-P/.../msf/DataStreamJob.java:140-177`` plus the retrieval
    the reference delegates to OpenSearch) — VALUE-CERTIFIED hash-exact
    (r10 verdict #2): p02 runs it on the crc32 DeterministicEmbedder
    (no SQL twin, rows-only), this twin swaps in the m06 Md5BowEmbedder
    tower, whose every step has an exact ANSI-SQL equivalent, so the
    DuckDB oracle re-derives the corpus vectors AND the query vector
    from raw text and replays the whole retrieval: integer dot products
    and norms per shared md5 bucket, one sqrt pair + division on
    identical doubles, top-10 by (ROUND(sim, 6) DESC, doc_id). The
    embedding crossing still goes through the REAL pipeline seam
    (operators/embed.embed — one mapInArrow stage, embedder built once
    per partition); only the hash function inside the embedder differs
    from p02.

    Scale shape: identical to p02 — the corpus crosses Python once,
    Arrow-batched, map-side; the query vector is a driver literal; the
    top-k is TakeOrderedAndProject (no global sort, no shuffle of
    losers)."""
    from ..pipeline import flagship_topk_exact

    return flagship_topk_exact(
        spark, sf_dir, query_text=_P02B_QTEXT, k=_P02B_K, dim=_P02B_DIM
    )


@query(
    "p03_embed_distinct",
    oracle=None,  # embedding UDF not SQL-expressible
    tags=("pipeline", "embedding", "dedup"),
)
def p03_embed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-before-embed (operators/embed.py embed_distinct): each
    distinct content fingerprint is embedded once and joined back — the
    20-50% cost cut on duplicate-heavy corpora, with the join carrying
    hashes + vectors, never documents twice."""
    from ..operators.embed import embed_distinct

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    return embed_distinct(docs, dim=32).select(
        "doc_id", F.to_json("embedding").alias("embedding"), "error"
    )


@query(
    "p03b_embed_distinct_exact",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM documents WHERE text IS NOT NULL AND text != ''
  ) WHERE tok != ''
),
bw AS (
  SELECT doc_id, h % {_P02B_DIM} AS bucket,
         CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS w
  FROM toks GROUP BY doc_id, h % {_P02B_DIM}
),
embedded AS (SELECT DISTINCT doc_id FROM toks)
SELECT e.doc_id, g.bucket, COALESCE(b.w, 0) AS w
FROM embedded e
CROSS JOIN (SELECT CAST(unnest(generate_series(0, {_P02B_DIM - 1})) AS BIGINT)
            AS bucket) g
LEFT JOIN bw b ON b.doc_id = e.doc_id AND b.bucket = g.bucket
""",
    tags=("pipeline", "embedding", "dedup"),
)
def p03b_embed_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p03's dedup-before-embed seam VALUE-CERTIFIED hash-exact (the
    p02b recipe applied to embed_distinct): the same operator — each
    distinct content fingerprint embedded once through the embed()
    mapInArrow stage, vectors joined back on the 16-byte fingerprint — but on
    the Md5BowEmbedder tower, whose every coordinate has an exact
    ANSI-SQL twin. The output explodes each returned vector to
    (doc_id, bucket, weight) integer rows, so the DuckDB oracle — which
    re-derives every document's dense 32-bucket tower directly from raw
    text — certifies that the distinct->embed->join-back detour is
    VALUE-TRANSPARENT: every replica of a duplicated text receives
    bit-identically the vector direct embedding would have produced,
    zeros included (a join-back that dropped, crossed, or reordered
    fingerprints breaks the hash). Whitespace-only texts embed to NULL
    and are excluded on both sides.

    Scale shape identical to p03: the expensive path (the UDF) runs
    once per DISTINCT fingerprint; the join back carries hashes +
    vectors, never documents twice; the explode is a narrow map."""
    from ..operators.embed import Md5BowEmbedder, embed_distinct

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    out = embed_distinct(
        docs, embedder_factory=Md5BowEmbedder, dim=_P02B_DIM, on_error="fail"
    ).filter(F.col("embedding").isNotNull())
    return out.select(
        "doc_id", F.posexplode("embedding").alias("bucket", "w")
    ).select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("w").cast("long").alias("w"),
    )


@query(
    "s16_knn_classification",
    oracle="""
WITH nn AS (
  SELECT q_id, vec_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
                         ORDER BY ROUND(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[])), 6) DESC,
                         c.vec_id) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id < 8) q
    JOIN (SELECT * FROM embeddings WHERE vec_id >= 8) c ON true
  ) WHERE rank <= 10
),
votes AS (
  SELECT nn.q_id, e.label, COUNT(*) AS n_votes
  FROM nn JOIN embeddings e ON e.vec_id = nn.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT q_id, label, n_votes,
    ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY n_votes DESC, label) AS rn
  FROM votes
)
SELECT q_id, label AS pred_label, n_votes FROM ranked WHERE rn = 1
""",
    tags=("similarity", "knn", "classification"),
    bench=True,
)
def s16_knn_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding column: each query vector
    (s02's query split) takes the majority label of its 10 nearest
    corpus vectors by cosine; ties break to the smallest label. The
    labeled-retrieval primitive behind deduplication-aware sampling and
    weak labeling of new corpora.

    Scale shape: the neighbor set is knn_join's per-batch GEMM top-k
    merged by a two-phase WindowGroupLimit (the shuffle carries only
    the batches' partial top-k rows, not the corpus); the label join is
    k*|Q|-sized; the vote and the argmax are hash aggregates, the final
    winner a map-side struct-max, NOT a per-query window."""
    from ..operators.similarity import knn_join

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = em.filter(F.col("vec_id") >= 8)
    nn = knn_join(queries, corpus, k=10)
    votes = (
        nn.join(em.select("vec_id", "label"), "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    best = F.max(
        F.struct(
            F.col("n_votes"),
            (-F.col("label")).alias("neg_label"),
            F.col("label").alias("label"),
            F.col("n_votes").alias("votes_out"),
        )
    )
    return votes.groupBy("q_id").agg(
        best.getField("label").alias("pred_label"),
        best.getField("votes_out").alias("n_votes"),
    )


@query(
    "s19_embedding_health",
    oracle="""
WITH base AS (
  SELECT label,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
    sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
flt AS (SELECT * FROM base WHERE nrm > 0),
per_label AS (
  SELECT label, COUNT(*) AS n_vectors, ROUND(AVG(nrm), 6) AS avg_norm
  FROM flt GROUP BY label
),
dims AS (
  SELECT label, pos, SUM(x) AS se, SUM(x / nrm) AS su
  FROM (SELECT label, nrm, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        FROM flt)
  GROUP BY label, pos
),
sums AS (
  SELECT label, SUM(se * se) AS ssq_e, SUM(su * su) AS ssq_u
  FROM dims GROUP BY label
)
SELECT p.label, p.n_vectors, p.avg_norm,
  ROUND(sqrt(s.ssq_e) / p.n_vectors, 6) AS centroid_norm,
  ROUND((s.ssq_u - p.n_vectors)
        / (p.n_vectors * (p.n_vectors - 1.0)), 6) AS mean_pairwise_cosine
FROM per_label p JOIN sums s USING (label)
""",
    tags=("similarity", "governance", "quality-audit", "embeddings"),
)
def s19_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space HEALTH REPORT per label: vector count, mean L2
    norm, centroid norm, and — the headline — the exact mean pairwise
    cosine similarity, the standard anisotropy/collapse diagnostic. A
    healthy embedding space for retrieval has mean pairwise cosine near
    0 (directions spread out); a collapsing encoder drifts it toward 1,
    silently destroying k-NN contrast long before recall metrics notice.
    This is the check a pipeline owner runs on each new embedding batch
    BEFORE building the index the reference delegates to OpenSearch HNSW
    (KDS-P/index-creation-function/lambda_function.py:72-80).

    The exact mean cosine over all n(n-1)/2 pairs needs NO pairwise
    join: with u_i the unit vectors, sum_{i!=j} cos(i,j)
    = ||sum u_i||^2 - n (the Gram identity), so one posexplode +
    a (label, dim)-keyed partial-sum aggregate computes it. Shuffle
    volume is dims x labels rows — independent of corpus size — versus
    the O(n^2) pairwise join the naive formulation pays. Per-row norms
    are sequential double folds, bit-identical across engines; the
    cross-row sums commute within 6-dp rounding."""
    em = load_table(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(dvec, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = em.select("label", dvec.alias("e"), norm.alias("nrm")).filter(
        F.col("nrm") > 0
    )
    per_label = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
    )
    dims = (
        base.select("label", "nrm", F.posexplode("e").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum("x").alias("se"),
            F.sum(F.col("x") / F.col("nrm")).alias("su"),
        )
    )
    sums = dims.groupBy("label").agg(
        F.sum(F.col("se") * F.col("se")).alias("ssq_e"),
        F.sum(F.col("su") * F.col("su")).alias("ssq_u"),
    )
    n = F.col("n_vectors")
    return per_label.join(sums, "label").select(
        "label",
        "n_vectors",
        "avg_norm",
        F.round(F.sqrt("ssq_e") / n, 6).alias("centroid_norm"),
        # try_divide: a label with a single nonzero vector has no pairs;
        # n*(n-1) = 0 must yield NULL (matching the oracle's NULL), not
        # an ANSI DIVIDE_BY_ZERO crash.
        F.round(
            F.try_divide(
                F.col("ssq_u") - n, (n * (n - F.lit(1))).cast("double")
            ),
            6,
        ).alias("mean_pairwise_cosine"),
    )
