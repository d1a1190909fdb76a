"""Training-data governance operators: verified dedup, PII redaction,
corpus mixture accounting, retention cohorts, stream enrichment.

Like llmops.py these have no counterpart in the reference (whose only
text operator is the empty filter, KDS-P/.../msf/DataStreamJob.java:146)
— they are the operations a 100 TB training-data pipeline runs between
ingest and embedding:

- the LSH -> exact-verify chain is the standard two-stage near-dup
  design: candidates come from the band join (O(dups), not O(n^2)),
  and only candidates pay the exact-Jaccard verification cost;
- redaction is pure codegen'd regexp — zero Python, linear in bytes;
- mixture/cohort reports are one-shuffle conditional aggregates.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import load_table, spread_compute
from .llmops import (
    _SQL_LSH_CTES,
    _SQL_NORM,
    _SQL_TRIGRAMS,
    _shingled_df,
    d04_minhash_lsh_pairs,
    normalized_text,
)
from .registry import query


@query(
    "d10_lsh_verified_dupes",
    oracle=f"""
WITH {_SQL_LSH_CTES.strip()},
scored AS (
  SELECT p.id_a, p.id_b,
    ROUND(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
          ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) END, 6) AS jaccard
  FROM lsh_pairs p
  JOIN shingled a ON a.doc_id = p.id_a
  JOIN shingled b ON b.doc_id = p.id_b
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
""",
    tags=("dedup", "minhash", "lsh", "similarity"),
)
def d10_lsh_verified_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full two-stage near-dup pipeline: MinHash-LSH candidate pairs
    (d04) verified with exact trigram Jaccard, keeping pairs >= 0.5.
    Only the candidate set — O(duplicates), not O(n^2) — pays the exact
    set-intersection cost; the shingle arrays join to it by doc_id, so
    the verification shuffle is proportional to candidates, not corpus.
    Both the shingle table and the candidate pairs come from the
    session-persisted intermediate seam — the corpus is shingled once
    even though this plan scans the table twice."""
    shingled = _shingled_df(spark, sf_dir)
    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    a = shingled.select(
        F.col("doc_id").alias("a_id"), F.col("grams").alias("a_grams")
    )
    b = shingled.select(
        F.col("doc_id").alias("b_id"), F.col("grams").alias("b_grams")
    )
    inter = F.size(F.array_intersect(F.col("a_grams"), F.col("b_grams")))
    union = F.size(F.array_union(F.col("a_grams"), F.col("b_grams")))
    jaccard = F.round(
        F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union), 6
    )
    return (
        pairs.join(a, pairs.id_a == a.a_id)
        .join(b, pairs.id_b == b.b_id)
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "d23_editdist_verify",
    oracle=f"""
WITH {{LSH}},
texts AS (SELECT doc_id, {{NORM}} AS t FROM documents),
cand AS (
  SELECT p.id_a, p.id_b, a.t AS ta, b.t AS tb
  FROM lsh_pairs p
  JOIN texts a ON a.doc_id = p.id_a
  JOIN texts b ON b.doc_id = p.id_b
  WHERE least(length(a.t), length(b.t)) * 2
        >= greatest(length(a.t), length(b.t))
)
SELECT id_a, id_b,
  CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist,
  ROUND(1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
        / greatest(length(ta), length(tb), 1), 6) AS edit_sim
FROM cand
WHERE ROUND(1.0 - CAST(levenshtein(ta, tb) AS DOUBLE)
      / greatest(length(ta), length(tb), 1), 6) >= 0.8
""".format(LSH=_SQL_LSH_CTES.strip(), NORM=_SQL_NORM),
    tags=("dedup", "lsh", "edit-distance", "similarity"),
)
def d23_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the LSH candidate pairs — the
    third verify lens after token-set Jaccard (d10) and containment
    (d15): normalized edit-distance similarity >= 0.8 catches
    small-edit duplicates (typo farms, template fills) that token-set
    measures can over- or under-score. Levenshtein is O(len_a x len_b)
    PER PAIR, so two guards keep it scale-safe: it runs only on the
    LSH candidate set (never all pairs), and candidates whose lengths
    differ by more than 50% are skipped first — |len_a - len_b| is
    itself a lower bound on edit distance, so those pairs cannot reach
    the 0.8 threshold and the quadratic cost is never paid for them.
    Both engines use their built-in levenshtein (identical unit-cost
    DP semantics)."""
    texts = load_table(spark, sf_dir, "documents").select(
        "doc_id", normalized_text(F.col("text")).alias("t")
    )
    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    a = texts.select(F.col("doc_id").alias("a_id"), F.col("t").alias("ta"))
    b = texts.select(F.col("doc_id").alias("b_id"), F.col("t").alias("tb"))
    la, lb = F.length("ta"), F.length("tb")
    cand = (
        pairs.join(a, pairs.id_a == a.a_id)
        .join(b, pairs.id_b == b.b_id)
        .filter(F.least(la, lb) * 2 >= F.greatest(la, lb))
    )
    dist = F.levenshtein("ta", "tb")
    sim = F.round(
        1.0 - dist.cast("double") / F.greatest(la, lb, F.lit(1)), 6
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            dist.cast("bigint").alias("edit_dist"),
            sim.alias("edit_sim"),
        )
        .filter(F.col("edit_sim") >= 0.8)
    )


@query(
    "d15_containment_dupes",
    oracle=f"""
WITH {_SQL_LSH_CTES.strip()},
scored AS (
  SELECT p.id_a, p.id_b,
    ROUND(CASE WHEN len(a.grams) = 0 OR len(b.grams) = 0 THEN 0.0
          ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / least(len(a.grams), len(b.grams)) END, 6) AS containment
  FROM lsh_pairs p
  JOIN shingled a ON a.doc_id = p.id_a
  JOIN shingled b ON b.doc_id = p.id_b
)
SELECT id_a, id_b, containment FROM scored WHERE containment >= 0.8
""",
    tags=("dedup", "minhash", "lsh", "containment"),
    bench=True,
)
def d15_containment_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup verification: |A∩B| / min(|A|, |B|) over
    the LSH candidate pairs. Jaccard under-scores subset duplication —
    a document wholly embedded in a much larger one scores
    |A| / |B| ≈ 0, yet is exactly the quote/boilerplate-inclusion case
    a training-data dedup must catch — while containment scores it 1.0.
    Same scale shape as d10: only the LSH candidate set (O(dups), not
    O(n^2)) pays the exact set-intersection cost, and the shingle
    arrays join to it by doc_id (both read from the session-persisted
    intermediate seam). The grams arrays are distinct (set) shingles on
    both the Spark and oracle sides, so this is true Broder
    containment."""
    shingled = _shingled_df(spark, sf_dir)
    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    a = shingled.select(
        F.col("doc_id").alias("a_id"), F.col("grams").alias("a_grams")
    )
    b = shingled.select(
        F.col("doc_id").alias("b_id"), F.col("grams").alias("b_grams")
    )
    inter = F.size(F.array_intersect(F.col("a_grams"), F.col("b_grams")))
    denom = F.least(F.size("a_grams"), F.size("b_grams"))
    containment = F.round(
        F.when(denom == 0, F.lit(0.0)).otherwise(inter.cast("double") / denom),
        6,
    )
    return (
        pairs.join(a, pairs.id_a == a.a_id)
        .join(b, pairs.id_b == b.b_id)
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= 0.8)
    )


@query(
    "t07_pii_redaction",
    oracle=r"""
SELECT doc_id,
  regexp_replace(regexp_replace(text, '[0-9]+', '[NUM]', 'g'),
                 '\bcustomer\b', '[PII]', 'g') AS clean_text,
  len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
  len(regexp_extract_all(text, '\bcustomer\b')) AS n_pii_terms
FROM documents
""",
    tags=("text", "redaction", "governance"),
)
def t07_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: digit runs -> [NUM], deny-listed terms ->
    [PII] (the 'customer' token stands in for a name dictionary), with
    per-document redaction counts for audit. Pure codegen'd regexp —
    no Python in the path, cost linear in corpus bytes, trivially
    partition-parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[0-9]+", "[NUM]"),
            r"\bcustomer\b",
            "[PII]",
        ).alias("clean_text"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]+"), 0)).alias(
            "n_numbers"
        ),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"\bcustomer\b"), 0)
        ).alias("n_pii_terms"),
    )


@query(
    "t08_corpus_mixture",
    oracle="""
SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(CAST(COUNT(*) AS DOUBLE)
        / (SELECT COUNT(*) FROM documents), 6) AS doc_share
FROM documents
GROUP BY source, lang
""",
    tags=("text", "aggregation", "governance"),
)
def t08_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus mixture report: document count, byte volume, and
    corpus share per (source, language) stratum — the accounting a data
    mixer reads before weighting strata. One hash aggregate; the corpus
    total is a broadcast single row, not a second scan per group."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return per.join(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        F.round(F.col("n_docs").cast("double") / F.col("n_total"), 6).alias(
            "doc_share"
        ),
    )


@query(
    "w09_retention_cohorts",
    oracle="""
WITH cohort AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
  CAST(FLOOR(date_diff('day', cohort_day, active_day) / 7.0) AS BIGINT)
    AS week_offset,
  COUNT(DISTINCT user_id) AS n_active
FROM activity JOIN cohort USING (user_id)
GROUP BY 1, 2
""",
    tags=("window-time", "aggregation", "cohort"),
)
def w09_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, counted
    per week-offset of later activity — the classic triangle retention
    table. Both the cohort assignment and the distinct-day activity
    shrink events before the join (aggregate-then-join), so the join
    input is per-user-day, not per-event."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    cohort = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("active_day")).distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(F.datediff("active_day", "cohort_day") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_LANG_DIM = [
    ("en", "English"),
    ("de", "German"),
    ("fr", "French"),
    ("es", "Spanish"),
    ("zh", "Chinese"),
]


@query(
    "st09_stream_static_join",
    oracle="""
SELECT lang_name, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
JOIN (VALUES ('en', 'English'), ('de', 'German'), ('fr', 'French'),
             ('es', 'Spanish'), ('zh', 'Chinese')) AS langs(lang, lang_name)
  ON documents.lang = langs.lang
GROUP BY lang_name
""",
    tags=("streaming", "join", "aggregation"),
)
def st09_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the documents file-stream joined to
    a static in-memory dimension (broadcast — it is re-read per
    micro-batch but never shuffled), aggregated in complete mode. This
    is the streaming side-input pattern the reference hardcodes into its
    async enrich stage (BedRockEmbeddingModelAsyncCustomMessage.java
    model-id map, :80-85) — here it is a first-class join."""
    from .streaming_queries import run_to_memory, stream_documents

    dim = spark.createDataFrame(_LANG_DIM, "lang string, lang_name string")
    docs = stream_documents(spark, sf_dir)
    agg = (
        docs.join(F.broadcast(dim), "lang")
        .groupBy("lang_name")
        .agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
        )
    )
    return run_to_memory(agg, "st09", "complete")


@query(
    "s09_product_quantization",
    oracle=None,  # Lloyd-iterative codebook training is not SQL-expressible
    tags=("similarity", "quantization", "ann"),
)
def s09_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/pq.py): 4 subspaces x 16 codes
    trained with deterministic Lloyd's, corpus encoded to 4 bytes/vector
    (64x smaller than float32), top-10 by ADC lookup-table distance to
    the lowest-id vector. Rows-only; tests/test_pq.py pins the numpy
    parity and the recall floor vs exact search."""
    from ..operators.pq import pq_encode, pq_search, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    qrow = emb.orderBy("vec_id").limit(1).select("embedding").collect()[0][0]
    books = pq_train(emb, dim=dim, m=4, k=16, iterations=2)
    enc = pq_encode(emb, books, dim=dim)
    return pq_search(enc, books, [float(x) for x in qrow], k=10)


@query(
    "s10_ivfpq_search",
    oracle=None,  # Lloyd-iterative codebook training is not SQL-expressible
    tags=("similarity", "quantization", "ann"),
)
def s10_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (operators/pq.py ivfpq_search): coarse-cell
    pruning + residual product quantization + per-cell ADC tables —
    search scans nprobe/K of the code table with zero corpus shuffle.
    Top-10 to the lowest-id vector, probing 4 of 10 cells. Rows-only;
    tests/test_pq.py pins the recall floor vs exact search."""
    from ..operators.pq import ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).select("embedding").collect()[0][0]
    return ivfpq_search(
        emb, [float(x) for x in qrow], nprobe=4, k=10, m=4, n_codes=16,
        iterations=2,
    )


@query(
    "s20_ivfpq_refined",
    oracle=None,  # Lloyd-iterative codebook training is not SQL-expressible
    tags=("similarity", "quantization", "ann", "rerank"),
)
def s20_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R — s10's IVF-PQ search with the production refinement
    stage (operators/pq.py ivfpq_search_refined): the ADC scan
    shortlists 4x the requested k, then TRUE squared-L2 against the raw
    vectors re-ranks the shortlist and cuts to 10. Quantization error
    now only has to keep true neighbors inside the shortlist, not order
    them, so recall rises while the exact math runs on 40 rows instead
    of the corpus; the shortlist rejoins the corpus as a BROADCAST hash
    join (ids only — the corpus never shuffles and non-candidates'
    vectors are never touched). Rows-only; tests/test_pq.py pins
    exact_dist equal to brute force on every returned id, the ordering,
    and refined-recall >= unrefined-recall."""
    from ..operators.pq import ivfpq_search_refined

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).select("embedding").collect()[0][0]
    return ivfpq_search_refined(
        emb, [float(x) for x in qrow], nprobe=4, k=10, shortlist_mult=4,
        m=4, n_codes=16, iterations=2,
    )


# s20b: IVFADC+R with every model artifact SAMPLED instead of
# Lloyd-iterated, so the whole index + search pipeline is relational
# and the DuckDB oracle certifies it hash-exact (r9 verdict #4 — the
# s23 recipe applied to the quantization family).
_S20B_DIM = 64
_S20B_CELLS = 8  # coarse centroids (md5-sampled corpus vectors)
_S20B_NPROBE = 2
_S20B_M = 4  # subspaces
_S20B_SUB = 16  # dims per subspace
_S20B_CODES = 16  # codewords per subspace (md5-sampled residuals)
_S20B_SHORT = 40  # ADC shortlist width (k * 4)
_S20B_K = 10
_S20B_QMOD = 50  # vec_id % QMOD == 0 rows are queries (the s23 universe)

_S20B_SQL_L2 = """
ROUND(list_reduce(list_prepend(0.0, list_transform(generate_series(1, {n}),
  {i} -> ({a} - {b}) * ({a} - {b}))), (acc, x) -> acc + x), 6)
"""


def _s20b_sql_l2(n: int, i: str, a: str, b: str) -> str:
    return _S20B_SQL_L2.format(n=n, i=i, a=a, b=b).strip()


@query(
    "s20b_ivfadc_seeded",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_S20B_DIM}
),
cents AS (
  SELECT rn - 1 AS cell, vec_id, emb FROM (
    SELECT vec_id, emb, ROW_NUMBER() OVER (
      ORDER BY md5('s20bc:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM valid
  ) WHERE rn <= {_S20B_CELLS}
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell, ROW_NUMBER() OVER (
      PARTITION BY v.vec_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "v.emb[i]", "c.emb[i]")}, c.cell
    ) AS arn
    FROM valid v, cents c
  ) WHERE arn = 1
),
resids AS (
  SELECT v.vec_id, a.cell,
    list_transform(generate_series(1, {_S20B_DIM}),
                   i -> v.emb[i] - c.emb[i]) AS resid
  FROM valid v JOIN assign a USING (vec_id) JOIN cents c ON c.cell = a.cell
),
cwords AS (
  SELECT rn - 1 AS code, resid FROM (
    SELECT resid, ROW_NUMBER() OVER (
      ORDER BY md5('s20bp:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM resids
  ) WHERE rn <= {_S20B_CODES}
),
subspaces AS (SELECT unnest(generate_series(0, {_S20B_M - 1})) AS s),
enc AS (
  SELECT vec_id, cell, s, code FROM (
    SELECT r.vec_id, r.cell, sp.s, cw.code, ROW_NUMBER() OVER (
      PARTITION BY r.vec_id, sp.s
      ORDER BY {_s20b_sql_l2(_S20B_SUB, "j",
                             f"r.resid[sp.s * {_S20B_SUB} + j]",
                             f"cw.resid[sp.s * {_S20B_SUB} + j]")}, cw.code
    ) AS ern
    FROM resids r, subspaces sp, cwords cw
    WHERE r.vec_id % {_S20B_QMOD} != 0
  ) WHERE ern = 1
),
queries AS (
  SELECT vec_id AS q_id, emb AS q_emb FROM valid
  WHERE vec_id % {_S20B_QMOD} = 0
),
probes AS (
  SELECT q_id, cell, q_emb, c_emb FROM (
    SELECT q.q_id, c.cell, q.q_emb, c.emb AS c_emb, ROW_NUMBER() OVER (
      PARTITION BY q.q_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "q.q_emb[i]", "c.emb[i]")}, c.cell
    ) AS prn
    FROM queries q, cents c
  ) WHERE prn <= {_S20B_NPROBE}
),
qresid AS (
  SELECT q_id, cell,
    list_transform(generate_series(1, {_S20B_DIM}),
                   i -> q_emb[i] - c_emb[i]) AS q_resid
  FROM probes
),
adc AS (
  SELECT q_id, vec_id, CAST(SUM(part) AS BIGINT) AS adc_scaled
  FROM (
    SELECT qr.q_id, e.vec_id,
      CAST(ROUND({_s20b_sql_l2(_S20B_SUB, "j",
                               f"qr.q_resid[e.s * {_S20B_SUB} + j]",
                               f"cw.resid[e.s * {_S20B_SUB} + j]")}
           * 1000000.0, 0) AS BIGINT) AS part
    FROM qresid qr
    JOIN enc e ON e.cell = qr.cell
    JOIN cwords cw ON cw.code = e.code
  ) GROUP BY q_id, vec_id
),
short AS (
  SELECT q_id, vec_id, adc_scaled FROM (
    SELECT q_id, vec_id, adc_scaled, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY adc_scaled, vec_id) AS srn
    FROM adc
  ) WHERE srn <= {_S20B_SHORT}
)
SELECT q_id, vec_id, approx_dist, exact_dist, rank FROM (
  SELECT s.q_id, s.vec_id,
    ROUND(s.adc_scaled / 1000000.0, 6) AS approx_dist,
    {_s20b_sql_l2(_S20B_DIM, "i", "q.q_emb[i]", "v.emb[i]")} AS exact_dist,
    ROW_NUMBER() OVER (
      PARTITION BY s.q_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "q.q_emb[i]", "v.emb[i]")},
               s.vec_id) AS rank
  FROM short s
  JOIN valid v USING (vec_id)
  JOIN queries q ON q.q_id = s.q_id
) WHERE rank <= {_S20B_K}
""",
    tags=("similarity", "quantization", "ann", "rerank"),
    bench=True,
)
def s20b_ivfadc_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R, oracle-certified HASH-EXACT end to end — s20's exact
    pipeline shape (coarse cell pruning -> residual PQ codes -> ADC
    shortlist -> true-L2 broadcast re-rank) with the two Lloyd-trained
    model artifacts replaced by md5-SEEDED samples (the s12/d31
    engine-portable convention), which makes every stage relational:

    - coarse centroids = the 8 corpus vectors ranked first
      by ``md5('s20bc:' || vec_id)`` (deterministic sample-init — the
      k-means++ seeding step without the iterations);
    - PQ codewords = the 16 RESIDUAL vectors ranked first by
      ``md5('s20bp:' || vec_id)``, shared across the 4
      subspaces by slicing;
    - every argmin/rank breaks ties on ROUND(dist, 6) then id, and the
      per-subspace ADC partials are scaled to exact BIGINTs before the
      sum (the t24/s25 integer discipline) so shortlist order is
      aggregation-order independent on any engine.

    Quality note (honestly): sampled codebooks trade recall for
    certifiability vs s10/s20's Lloyd iterations — the production
    pipeline keeps s20, and this entry certifies that the SERVING
    dataflow (assignment, encode, probe selection, ADC lookup algebra,
    shortlist, refinement join) computes exactly what it claims; swap
    the seeded artifacts for trained ones and the dataflow is
    unchanged. tests/test_pq.py pins exact_dist == brute force on every
    returned id, rank ordering, per-query row counts, and a recall
    canary (the near-isotropic testdata caps nprobe=2/8 recall ~0.25
    by geometry — see the test comment).

    Scale shape (identical to s20): centroids/codewords are
    driver-sized literals at any corpus scale; assignment and encode
    are narrow per-row folds (no exchange); the ADC scan touches
    nprobe/8 of the code table via the probes broadcast
    join; both rank cuts are two-phase WindowGroupLimit; the re-rank
    re-joins raw vectors by BROADCAST id join, so the corpus never
    shuffles. The reference delegates ANN to OpenSearch HNSW
    (KDS-P/index-creation-function/lambda_function.py:72-80); this is
    the engine-native quantized path."""
    from pyspark.sql import Window

    dim, m, sub = _S20B_DIM, _S20B_M, _S20B_SUB

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
    # assignment/encode are narrow per-row folds UPSTREAM of the first
    # exchange, so they run at the scan's parallelism — spread the
    # single-split fixture scan (no-op on a many-split production scan)
    valid = spread_compute(
        em.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == dim)
        ).select("vec_id", "embedding"),
        "vec_id",
    )

    # -- model artifacts: two md5-ranked samples (driver-sized) --------
    h_cent = F.md5(F.concat(F.lit("s20bc:"), F.col("vec_id").cast("string")))
    cent_rows = (
        valid.orderBy(h_cent, "vec_id").limit(_S20B_CELLS).collect()
    )
    centroids = [[float(x) for x in r.embedding] for r in cent_rows]
    cent_flat = F.lit(
        [x for c in centroids for x in c]
    ).cast("array<double>")

    # assignment: argmin over cells by (ROUND(d, 6), cell). The scored
    # array is built with F.transform over a literal INDEX array — the
    # lambda is constructed ONCE however many candidates there are (a
    # per-candidate Python loop costs one py4j round trip per F.* call:
    # the unrolled first cut spent ~10 s per build constructing the
    # 64-codeword encode expression alone). The fold still iterates in
    # ascending index order, so ties keep the lowest index.
    def argmin_over(n: int, dist_of):
        scored = F.transform(
            F.lit(list(range(n))),
            lambda c: F.struct(dist_of(c).alias("d"), c.alias("i")),
        )
        return F.aggregate(
            scored,
            F.element_at(scored, 1),
            lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
        )["i"]

    cell = argmin_over(
        _S20B_CELLS,
        lambda c: F.round(
            sq_l2(F.col("embedding"), F.slice(cent_flat, c * dim + 1, dim)),
            6,
        ),
    )
    assigned = valid.withColumn("cell", cell)
    resid = F.zip_with(
        F.col("embedding"),
        F.slice(cent_flat, F.col("cell") * dim + 1, dim),
        lambda a, b: a.cast("double") - b,
    )
    # localCheckpoint cuts the lineage (the d21 pattern) so CollapseProject
    # cannot inline the 64-element resid zip into each of the 64
    # per-code distance folds below — without the cut, every corpus row
    # pays 64 re-evaluations of its residual in interpreted
    # higher-order-function code. Values become concrete, so oracle
    # parity is untouched; storage is freed by the context cleaner when
    # the build goes out of scope. At 100 TB this materialization IS
    # the index build's working set — a real deployment lands it in the
    # intermediate seam / a table, exactly as s05/s10 do.
    with_resid = assigned.withColumn("resid", resid).localCheckpoint(
        eager=False
    )

    h_pq = F.md5(F.concat(F.lit("s20bp:"), F.col("vec_id").cast("string")))
    cw_rows = (
        with_resid.orderBy(h_pq, "vec_id")
        .limit(_S20B_CODES)
        .select("resid")
        .collect()
    )
    cw_flat = F.lit(
        [float(x) for r in cw_rows for x in r.resid]
    ).cast("array<double>")

    # -- encode the corpus: per-subspace argmin over codewords ---------
    def code_for(s: int):
        r_sub = F.slice(F.col("resid"), s * sub + 1, sub)
        return argmin_over(
            _S20B_CODES,
            lambda c: F.round(
                sq_l2(r_sub, F.slice(cw_flat, c * dim + s * sub + 1, sub)),
                6,
            ),
        )

    encoded = (
        with_resid.filter(F.col("vec_id") % _S20B_QMOD != 0)
        .select(
            "vec_id",
            "cell",
            F.array(*[code_for(s) for s in range(m)]).alias("codes"),
        )
    )

    # -- probe selection + query residuals (relational, any |Q|) -------
    queries = valid.filter(F.col("vec_id") % _S20B_QMOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cents_df = spark.createDataFrame(
        [(c, centroids[c]) for c in range(_S20B_CELLS)],
        "cell int, centroid array<double>",
    )
    wp = Window.partitionBy("q_id").orderBy("pd", "cell")
    probes = (
        queries.crossJoin(F.broadcast(cents_df))
        .select(
            "q_id",
            "cell",
            F.round(sq_l2(F.col("q_emb"), F.col("centroid")), 6).alias("pd"),
            F.zip_with(
                F.col("q_emb"),
                F.col("centroid"),
                lambda a, b: a.cast("double") - b,
            ).alias("q_resid"),
        )
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= _S20B_NPROBE)
        .select("q_id", "cell", "q_resid")
    )

    # -- ADC scan over the probed cells (exact-integer partial sums) ---
    def part_for(s: int):
        p = sq_l2(
            F.slice(F.col("q_resid"), s * sub + 1, sub),
            F.slice(
                cw_flat,
                F.element_at(F.col("codes"), s + 1) * dim + s * sub + 1,
                sub,
            ),
        )
        return F.round(F.round(p, 6) * F.lit(1000000.0), 0).cast("long")

    adc_scaled = part_for(0)
    for s in range(1, m):
        adc_scaled = adc_scaled + part_for(s)
    ws = Window.partitionBy("q_id").orderBy("adc_scaled", "vec_id")
    short = (
        encoded.join(F.broadcast(probes), "cell")
        .select("q_id", "vec_id", adc_scaled.alias("adc_scaled"))
        .withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _S20B_SHORT)
        .select("q_id", "vec_id", "adc_scaled")
    )

    # -- refinement: true L2 on the broadcast shortlist -----------------
    exact = F.round(sq_l2(F.col("embedding"), F.col("q_emb")), 6)
    wr = Window.partitionBy("q_id").orderBy("exact_dist", "vec_id")
    return (
        valid.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(queries), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(F.col("adc_scaled") / 1000000.0, 6).alias("approx_dist"),
            exact.alias("exact_dist"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S20B_K)
    )


# s09b: PURE product quantization (no coarse cells) with an md5-seeded
# codebook, hash-exact — the s20b derivation applied to the flat
# encode -> lookup-table ADC scan (r11 verdict #3a). Shares s20b's
# subspace geometry so the two rows certify the same algebra with and
# without IVF pruning.
_S09B_CODES = 16
_S09B_K = 10
_S09B_QMOD = 50  # the s20b/s23 query universe


@query(
    "s09b_pq_seeded",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_S20B_DIM}
),
cwords AS MATERIALIZED (
  SELECT rn - 1 AS code, emb FROM (
    SELECT vec_id, emb, ROW_NUMBER() OVER (
      ORDER BY md5('s09b:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM valid
  ) WHERE rn <= {_S09B_CODES}
),
subspaces AS (SELECT unnest(generate_series(0, {_S20B_M - 1})) AS s),
enc AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT v.vec_id, sp.s, cw.code, ROW_NUMBER() OVER (
      PARTITION BY v.vec_id, sp.s
      ORDER BY {_s20b_sql_l2(_S20B_SUB, "j",
                             f"v.emb[sp.s * {_S20B_SUB} + j]",
                             f"cw.emb[sp.s * {_S20B_SUB} + j]")}, cw.code
    ) AS ern
    FROM valid v, subspaces sp, cwords cw
    WHERE v.vec_id % {_S09B_QMOD} != 0
  ) WHERE ern = 1
),
queries AS (
  SELECT vec_id AS q_id, emb AS q_emb FROM valid
  WHERE vec_id % {_S09B_QMOD} = 0
),
lut AS MATERIALIZED (
  SELECT q.q_id, sp.s, cw.code,
    CAST(ROUND({_s20b_sql_l2(_S20B_SUB, "j",
                             f"q.q_emb[sp.s * {_S20B_SUB} + j]",
                             f"cw.emb[sp.s * {_S20B_SUB} + j]")}
         * 1000000.0, 0) AS BIGINT) AS part
  FROM queries q, subspaces sp, cwords cw
),
adc AS (
  SELECT l.q_id, e.vec_id, CAST(SUM(l.part) AS BIGINT) AS adc_scaled
  FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
  GROUP BY l.q_id, e.vec_id
)
SELECT q_id, vec_id,
  ROUND(adc_scaled / 1000000.0, 6) AS adc_dist, rank
FROM (
  SELECT q_id, vec_id, adc_scaled, ROW_NUMBER() OVER (
    PARTITION BY q_id ORDER BY adc_scaled, vec_id) AS rank
  FROM adc
) WHERE rank <= {_S09B_K}
""",
    tags=("similarity", "quantization", "ann"),
    bench=True,
)
def s09b_pq_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat product quantization, oracle-certified HASH-EXACT end to
    end — s09's pipeline shape (per-subspace encode -> per-query ADC
    lookup table -> linear scan over the code table -> top-k) with the
    Lloyd-trained codebook replaced by an md5-SEEDED corpus sample (the
    s20b convention: codewords = the {_S09B_CODES} vectors ranked first
    by ``md5('s09b:' || vec_id)``, shared across the {_S20B_M} subspaces
    by slicing). Every per-subspace distance is ROUND(d, 6) and scaled
    to an exact BIGINT before the m-way sum, so ADC order is
    aggregation-order independent on any engine; every rank breaks
    ties by id. s09/s10 keep the trained codebooks (the production
    path, pinned in tests/test_pq.py); this row certifies the SERVING
    algebra — encode argmin, LUT construction, lookup-sum, top-k cut —
    value-for-value against a second engine.

    Scale shape — the flat-PQ story at 100 TB: the codebook is a
    driver-sized literal; encode is a narrow per-row fold (no
    exchange) producing {_S20B_M} bytes of codes per vector; serving
    broadcasts per-query 64-entry LUTs and scans the code table with
    {_S20B_M} array lookups + one integer add per row — no vector math
    on the corpus, memory 16x under float32 — and the top-k cut is
    two-phase WindowGroupLimit (per-partition k, then k of k's). The
    deliberate linear scan over ALL codes (vs s20b's nprobe/8 pruned
    scan) is PQ's own trade; IVF-PQ (s10/s20b) is the pruned variant.
    The reference delegates ANN to OpenSearch HNSW
    (KDS-P/index-creation-function/lambda_function.py:72-80); this is
    the engine-native quantized path."""
    from pyspark.sql import Window

    dim, m, sub, codes = _S20B_DIM, _S20B_M, _S20B_SUB, _S09B_CODES

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
    # encode + the ADC linear scan run upstream of the first exchange,
    # i.e. at scan parallelism — spread the single-split fixture scan
    # (no-op on a many-split production scan)
    valid = spread_compute(
        em.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") == dim)
        ).select("vec_id", "embedding"),
        "vec_id",
    )

    # -- codebook: one md5-ranked sample (driver-sized at any scale) ---
    h_cw = F.md5(F.concat(F.lit("s09b:"), F.col("vec_id").cast("string")))
    cw_rows = valid.orderBy(h_cw, "vec_id").limit(codes).collect()
    cw_flat = F.lit(
        [float(x) for r in cw_rows for x in r.embedding]
    ).cast("array<double>")

    # argmin over codes by (ROUND(d, 6), code) — the s20b helper: the
    # scored array is built with F.transform over a literal index array
    # (one py4j expression however many candidates), and the fold keeps
    # the lowest index on ties.
    def argmin_over(n: int, dist_of):
        scored = F.transform(
            F.lit(list(range(n))),
            lambda c: F.struct(dist_of(c).alias("d"), c.alias("i")),
        )
        return F.aggregate(
            scored,
            F.element_at(scored, 1),
            lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
        )["i"]

    def code_for(s: int):
        v_sub = F.slice(F.col("embedding"), s * sub + 1, sub)
        return argmin_over(
            codes,
            lambda c: F.round(
                sq_l2(v_sub, F.slice(cw_flat, c * dim + s * sub + 1, sub)),
                6,
            ),
        )

    encoded = valid.filter(F.col("vec_id") % _S09B_QMOD != 0).select(
        "vec_id",
        F.array(*[code_for(s) for s in range(m)]).alias("codes"),
    )

    # -- per-query ADC lookup table: m x codes exact-integer entries ---
    # (subspace-major: entry for (s, c) at index s*codes + c)
    def lut_entry(s, c):
        d = sq_l2(
            F.slice(F.col("q_emb"), s * sub + 1, sub),
            F.slice(cw_flat, c * dim + s * sub + 1, sub),
        )
        return F.round(F.round(d, 6) * F.lit(1000000.0), 0).cast("long")

    lut = F.flatten(
        F.transform(
            F.lit(list(range(m))),
            lambda s: F.transform(
                F.lit(list(range(codes))), lambda c: lut_entry(s, c)
            ),
        )
    )
    queries = (
        valid.filter(F.col("vec_id") % _S09B_QMOD == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        .withColumn("lut", lut)
        .drop("q_emb")
    )

    # -- ADC scan: m array lookups + integer sum per (query, vector) ---
    adc_scaled = F.aggregate(
        F.lit(list(range(m))),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"),
            (s * codes + F.element_at(F.col("codes"), s + 1) + 1).cast("int"),
        ),
    )
    wk = Window.partitionBy("q_id").orderBy("adc_scaled", "vec_id")
    return (
        encoded.crossJoin(F.broadcast(queries))
        .select("q_id", "vec_id", adc_scaled.alias("adc_scaled"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= _S09B_K)
        .select(
            "q_id",
            "vec_id",
            F.round(F.col("adc_scaled") / 1000000.0, 6).alias("adc_dist"),
            "rank",
        )
    )


_S05B_CELLS = 8
_S05B_NPROBE = 2
_S05B_K = 5  # matches s05's k
_S05B_QMOD = 50  # the s20b/s23 query universe


@query(
    "s05b_ivf_seeded",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_S20B_DIM}
),
cents AS (
  SELECT rn - 1 AS cell, emb FROM (
    SELECT vec_id, emb, ROW_NUMBER() OVER (
      ORDER BY md5('s05bc:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM valid
  ) WHERE rn <= {_S05B_CELLS}
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell, ROW_NUMBER() OVER (
      PARTITION BY v.vec_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "v.emb[i]", "c.emb[i]")}, c.cell
    ) AS arn
    FROM valid v, cents c
    WHERE v.vec_id % {_S05B_QMOD} != 0
  ) WHERE arn = 1
),
queries AS (
  SELECT vec_id AS q_id, emb AS q_emb FROM valid
  WHERE vec_id % {_S05B_QMOD} = 0
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.q_id, c.cell, ROW_NUMBER() OVER (
      PARTITION BY q.q_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "q.q_emb[i]", "c.emb[i]")}, c.cell
    ) AS prn
    FROM queries q, cents c
  ) WHERE prn <= {_S05B_NPROBE}
)
SELECT q_id, vec_id, dist, rank FROM (
  SELECT q.q_id, a.vec_id,
    {_s20b_sql_l2(_S20B_DIM, "i", "q.q_emb[i]", "v.emb[i]")} AS dist,
    ROW_NUMBER() OVER (
      PARTITION BY q.q_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "q.q_emb[i]", "v.emb[i]")},
               a.vec_id) AS rank
  FROM probes p
  JOIN assign a ON a.cell = p.cell
  JOIN queries q ON q.q_id = p.q_id
  JOIN valid v ON v.vec_id = a.vec_id
) WHERE rank <= {_S05B_K}
""",
    tags=("similarity", "ann"),
)
def s05b_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s05's IVF search dataflow, oracle-certified HASH-EXACT — the
    r10-verdict recipe that produced s20b/d34 applied to the plain
    (un-quantized) IVF path: the Lloyd/label-trained coarse quantizer
    is replaced by md5-SEEDED sample centroids (the 8 corpus vectors
    ranked first by ``md5('s05bc:' || vec_id)``), which makes the whole
    search relational: every corpus vector assigns to its nearest cell
    by (ROUND(L2, 6), cell), each query probes its nprobe=2 nearest
    cells the same way, and the exact within-cell distances rank by
    (ROUND(L2, 6), vec_id) — every comparison cross-engine stable, so
    the DuckDB oracle replays the identical pruned search. The
    production entry keeps s05's trained centroids (recall lives
    there); this row value-certifies the SEARCH dataflow — assignment,
    probe selection, pruned scan, rank cut — end to end.

    Scale shape (identical to s05/s20b): centroids are a driver-sized
    literal at any corpus scale; assignment is a narrow per-row fold
    (no exchange); the pruned scan touches nprobe/cells of the corpus
    via a broadcast probes join; the rank cut is the two-phase
    WindowGroupLimit, so at most k rows per query per map task reach
    the exchange and the corpus never shuffles."""
    from pyspark.sql import Window

    dim = _S20B_DIM

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
    valid = em.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == dim)
    ).select("vec_id", "embedding")

    h_cent = F.md5(F.concat(F.lit("s05bc:"), F.col("vec_id").cast("string")))
    cent_rows = valid.orderBy(h_cent, "vec_id").limit(_S05B_CELLS).collect()
    centroids = [[float(x) for x in r.embedding] for r in cent_rows]
    cent_flat = F.lit(
        [x for c in centroids for x in c]
    ).cast("array<double>")

    # assignment: argmin over cells by (ROUND(d, 6), cell) — the s20b
    # transform-over-literal-index-array fold (built once, ties keep
    # the lowest index)
    scored = F.transform(
        F.lit(list(range(_S05B_CELLS))),
        lambda c: F.struct(
            F.round(
                sq_l2(F.col("embedding"), F.slice(cent_flat, c * dim + 1, dim)),
                6,
            ).alias("d"),
            c.alias("i"),
        ),
    )
    cell = F.aggregate(
        scored,
        F.element_at(scored, 1),
        lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
    )["i"]
    assigned = valid.filter(F.col("vec_id") % _S05B_QMOD != 0).select(
        "vec_id", "embedding", cell.alias("cell")
    )

    queries = valid.filter(F.col("vec_id") % _S05B_QMOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cents_df = spark.createDataFrame(
        [(c, centroids[c]) for c in range(_S05B_CELLS)],
        "cell int, centroid array<double>",
    )
    wp = Window.partitionBy("q_id").orderBy("pd", "cell")
    probes = (
        queries.crossJoin(F.broadcast(cents_df))
        .select(
            "q_id",
            "cell",
            F.round(sq_l2(F.col("q_emb"), F.col("centroid")), 6).alias("pd"),
            "q_emb",
        )
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= _S05B_NPROBE)
        .select("q_id", "cell", "q_emb")
    )

    dist = F.round(sq_l2(F.col("embedding"), F.col("q_emb")), 6)
    wr = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        assigned.join(F.broadcast(probes), "cell")
        .select("q_id", "vec_id", dist.alias("dist"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S05B_K)
    )


_S06B_CELLS = 8


@query(
    "s06b_kmeans_cells_seeded",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_S20B_DIM}
),
cents AS (
  SELECT rn - 1 AS cell,
    list_transform(emb, x -> x / sqrt(list_reduce(
      list_prepend(0.0, list_transform(emb, y -> y * y)),
      (a, b) -> a + b))) AS semb
  FROM (
    SELECT emb, ROW_NUMBER() OVER (
      ORDER BY md5('s06bc:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM valid
  ) WHERE rn <= {_S06B_CELLS}
)
SELECT vec_id, cell FROM (
  SELECT v.vec_id, c.cell, ROW_NUMBER() OVER (
    PARTITION BY v.vec_id
    ORDER BY list_reduce(list_prepend(0.0,
      list_transform(generate_series(1, {_S20B_DIM}),
        i -> v.emb[i] * c.semb[i])), (a, b) -> a + b) DESC, c.cell
  ) AS arn
  FROM valid v, cents c
) WHERE arn = 1
""",
    tags=("similarity", "clustering"),
    bench=True,
)
def s06b_kmeans_cells_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s06's cell ASSIGNMENT step oracle-certified HASH-EXACT — the
    seeded-twin recipe (s05b/s20b/d34) applied to the k-means family's
    one remaining rows-only trained artifact: the Lloyd-trained
    centroids are replaced by md5-SEEDED sample centroids (the 8 corpus
    vectors ranked first by ``md5('s06bc:' || vec_id)``), and the
    assignment runs through the OPERATOR'S OWN literal-argmin path
    (operators/kmeans._nearest_cell — pre-normalized centroids, one
    codegen'd max-cosine fold per row, ties to the lowest cell; the
    exact expression every Lloyd iteration of s06 executes). The DuckDB
    oracle replays the identical sequential double arithmetic
    (zip-multiply -> left-to-right fold -> strict-max tiebreak), so a
    drift in the fold order, the normalization, the NULL/wrong-length
    hygiene, or the tie direction breaks the hash. s06 keeps the
    iterative training (rows-only by design); this row value-certifies
    the assignment dataflow those iterations and the IVF quantizers
    share.

    Scale shape (s06's): centroids are a driver-sized literal at any
    corpus scale; assignment is a narrow per-row fold — no exchange
    anywhere in the plan."""
    from ..operators.kmeans import _nearest_cell

    em = load_table(spark, sf_dir, "embeddings")
    valid = em.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _S20B_DIM)
    ).select("vec_id", "embedding")

    h_cent = F.md5(F.concat(F.lit("s06bc:"), F.col("vec_id").cast("string")))
    cent_rows = valid.orderBy(h_cent, "vec_id").limit(_S06B_CELLS).collect()
    centroids = [[float(x) for x in r.embedding] for r in cent_rows]

    return valid.select(
        "vec_id", _nearest_cell(F.col("embedding"), centroids).alias("cell")
    )


@query(
    "p04_python_datasource",
    oracle="""
WITH gen AS (
  SELECT i AS doc_id,
    'synthetic text ' || md5('42:' || i) AS text,
    strftime(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND,
             '%Y-%m-%dT%H:%M:%S.000Z') AS created_at
  FROM (SELECT UNNEST(generate_series(0, 599)) AS i)
)
SELECT doc_id % 7 AS bucket, COUNT(*) AS n_docs,
       MIN(text) AS first_text, MAX(created_at) AS last_created
FROM gen GROUP BY doc_id % 7
""",
    tags=("source", "pipeline"),
)
def p04_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ingress through the engine's custom Python data source
    (sources/docgen.py, Spark 4 ``pyspark.sql.datasource``): the
    deterministic wire-format generator standing in for the reference's
    producer Lambda (KDS-P/kds-producer-lambda/lambda_function.py:10-33),
    read partition-parallel, parsed with the M1 ``from_json`` stage, and
    reduced to a per-bucket aggregate. The DuckDB oracle regenerates the
    identical corpus from generate_series + the same md5 arithmetic —
    proving the source is engine-portable and retry-deterministic, not
    just runnable. (sf_dir is unused: the source generates its input.)"""
    from ..sources.docgen import register

    register(spark)
    raw = (
        spark.read.format("docgen")
        .option("rows", "600")
        .option("partitions", "6")
        .load()
    )
    parsed = raw.select(
        "doc_id",
        F.from_json("value", "text string, created_at string").alias("r"),
    ).select("doc_id", "r.text", "r.created_at")
    return parsed.groupBy((F.col("doc_id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("text").alias("first_text"),
        F.max("created_at").alias("last_created"),
    )


@query(
    "p05_vecdir_sink_roundtrip",
    oracle="""
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
""",
    tags=("sink", "pipeline"),
)
def p05_vecdir_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 as a user-defined Python sink (streaming/python_sink.py): the
    documents table is written through ``format("vecdir")`` — each
    partition staged executor-side as a parquet segment, the manifest
    published atomically on commit — then read back VIA THE MANIFEST
    and aggregated per source. The oracle aggregates the original
    table directly, so a sink that dropped, duplicated, or corrupted
    any partition's rows (or leaked unmanifested staging data) breaks
    the hash."""
    import tempfile

    from ..streaming.python_sink import read_manifested, register

    register(spark)
    out = tempfile.mkdtemp(prefix="vecdir_p05_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    docs.write.format("vecdir").option("path", out).mode("append").save()
    back = read_manifested(spark, out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "d16_canonical_selection",
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
),
comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
ranked AS (
  SELECT c.component, c.doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY c.component
      ORDER BY LENGTH({_SQL_NORM}) DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
sizes AS (SELECT component, COUNT(*) AS n_docs FROM comp GROUP BY 1)
SELECT s.component, r.doc_id AS keep_doc_id, s.n_docs
FROM sizes s JOIN ranked r ON r.component = s.component AND r.rn = 1
""",
    tags=("dedup", "curation", "survivor-selection"),
    bench=True,
)
def d16_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection after duplicate clustering: for every
    near-dup component (d08), keep the single canonical document —
    longest normalized text, doc_id as the tiebreak — and report the
    component size. This is the step that turns a dedup ANALYSIS into
    a dedup DECISION (which rows to keep when materializing the clean
    corpus).

    Scale shape: the keep-rule is a lexicographic max(struct(len,
    -doc_id)) aggregation, NOT a per-component window — a template-spam
    component with millions of members would make a window's single
    reducer a hot partition, while the struct-max combines map-side
    like any other aggregate."""
    from .llmops import d08_dup_components

    comp = d08_dup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length(normalized_text(F.col("text"))).alias("len")
    )
    joined = comp.join(docs, "doc_id")
    best = F.max(
        F.struct(
            F.col("len"),
            (-F.col("doc_id")).alias("neg_id"),
            F.col("doc_id").alias("doc_id"),
        )
    )
    return joined.groupBy("component").agg(
        best.getField("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    ).select("component", "keep_doc_id", "n_docs")


_CSV_CACHE: dict[tuple[str, str], str] = {}

# Cache of materialized ORC copies, keyed by (sf_dir, source content
# fingerprint) so a regenerated sf_dir within one process is re-written
# rather than silently compared stale. Temp dirs are removed at exit.
_ORC_CACHE: dict[tuple[str, str], str] = {}


from ..sources.batch import source_fingerprint as _source_fingerprint  # noqa: E402


@query(
    "p06_orc_roundtrip",
    oracle="""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
    tags=("sources", "sinks", "formats"),
)
def p06_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interop: documents written to ORC and read back
    through the ORC vectorized reader, then aggregated — proving the
    engine's source/sink surface isn't parquet-only (ORC ships in
    Spark core; at scale the same two lines target any hadoop-fs URI).
    The oracle aggregates the original parquet, so the check certifies
    a lossless roundtrip, not just a successful write."""
    import atexit
    import os
    import shutil
    import tempfile

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (os.path.abspath(sf_dir), _source_fingerprint(src))
    path = _ORC_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="orc_docs_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        load_table(spark, sf_dir, "documents").write.mode("overwrite").orc(path)
        _ORC_CACHE[key] = path
    back = spark.read.orc(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "p07_csv_roundtrip",
    oracle="""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_chars
FROM documents GROUP BY lang
""",
    tags=("sources", "sinks", "formats"),
)
def p07_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format interop: documents written to CSV (header, quoted)
    and read back through Spark's CSV reader with an explicit schema,
    then aggregated — the third leg of the format matrix (parquet
    native, ORC p06, CSV here; the reference's wire format is JSON,
    covered by the streaming parse path). The oracle aggregates the
    original parquet, so the check certifies the roundtrip preserved
    every row AND every text byte (total_text_chars would drift if
    quoting/escaping mangled a single document)."""
    import atexit
    import os
    import shutil
    import tempfile

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (os.path.abspath(sf_dir), "csv:" + _source_fingerprint(src))
    path = _CSV_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="csv_docs_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        (
            load_table(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .option("header", "true")
            .option("escape", '"')
            # Spark's CSV writer strips leading/trailing field
            # whitespace by default — byte-lossy for text corpora.
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(path)
        )
        _CSV_CACHE[key] = path
    back = (
        spark.read.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("header", "true")
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        # documents may embed newlines; without multiLine the reader
        # splits quoted records at line breaks and silently drops rows.
        # multiLine parses each file as a unit — one task per file, so
        # at scale read parallelism comes from file count (which this
        # sink's one-file-per-partition write already provides).
        .option("multiLine", "true")
        .csv(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias(
            "total_text_chars"
        ),
    )


@query(
    "d18_minhash_estimate_audit",
    oracle=f"""
WITH {_SQL_LSH_CTES.strip()},
est AS (
  SELECT p.id_a, p.id_b,
    ROUND(list_sum(list_transform(generate_series(1, 16),
      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1.0 ELSE 0.0 END)) / 16.0, 6)
      AS est_jaccard
  FROM lsh_pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
exact AS (
  SELECT p.id_a, p.id_b,
    ROUND(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
          ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) END, 6)
      AS exact_jaccard
  FROM lsh_pairs p
  JOIN shingled a ON a.doc_id = p.id_a
  JOIN shingled b ON b.doc_id = p.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard, x.exact_jaccard,
       ROUND(ABS(e.est_jaccard - x.exact_jaccard), 6) AS abs_err
FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
""",
    tags=("dedup", "minhash", "sketch-audit"),
)
def d18_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quality audit: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of agreeing signature slots — the
    unbiased Broder estimator) next to the exact trigram Jaccard, with
    the absolute error. This is the operator a pipeline owner runs
    before trusting sketch-only dedup decisions at a new corpus: a
    drifting abs_err distribution means the signature width (16) or
    shingle size no longer fits the data.

    Scale shape: every input (signatures, candidate pairs, shingles)
    comes from the session-persisted intermediate seam — this audit
    adds only candidate-sized joins (id-keyed) and a 16-slot zip_with
    per pair; nothing corpus-sized is recomputed."""
    from .llmops import _minhash_signatures_df, _shingled_df

    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    sigs = _minhash_signatures_df(spark, sf_dir)
    shingled = _shingled_df(spark, sf_dir)

    sa = sigs.select(F.col("doc_id").alias("sa_id"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("sb_id"), F.col("signature").alias("sig_b"))
    est = (
        pairs.join(sa, pairs.id_a == sa.sa_id)
        .join(sb, pairs.id_b == sb.sb_id)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y
                        ),
                        lambda v: v,
                    )
                )
                / F.lit(16.0),
                6,
            ).alias("est_jaccard"),
        )
    )
    a = shingled.select(F.col("doc_id").alias("a_id"), F.col("grams").alias("a_grams"))
    b = shingled.select(F.col("doc_id").alias("b_id"), F.col("grams").alias("b_grams"))
    inter = F.size(F.array_intersect(F.col("a_grams"), F.col("b_grams")))
    union = F.size(F.array_union(F.col("a_grams"), F.col("b_grams")))
    exact = (
        pairs.join(a, pairs.id_a == a.a_id)
        .join(b, pairs.id_b == b.b_id)
        .select(
            F.col("id_a").alias("x_id_a"),
            F.col("id_b").alias("x_id_b"),
            F.round(
                F.when(union == 0, F.lit(0.0)).otherwise(
                    inter.cast("double") / union
                ),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return (
        est.join(
            exact,
            (est.id_a == exact.x_id_a) & (est.id_b == exact.x_id_b),
        )
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            "exact_jaccard",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6).alias(
                "abs_err"
            ),
        )
    )


@query(
    "p08_corpus_materialization",
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
),
comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
ranked AS (
  SELECT c.component, c.doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY c.component
      ORDER BY LENGTH({_SQL_NORM}) DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
near_drops AS (SELECT doc_id FROM ranked WHERE rn > 1),
exact_keep AS (
  SELECT md5({_SQL_NORM}) AS fp, MIN(doc_id) AS keep_id
  FROM documents GROUP BY 1
),
flagged AS (
  SELECT d.doc_id, d.source, d.lang, d.n_chars,
    CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END AS is_exact_dupe,
    CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_near_dupe
  FROM documents d
  JOIN exact_keep k ON k.fp = md5({_SQL_NORM})
  LEFT JOIN near_drops nd ON nd.doc_id = d.doc_id
)
SELECT source, lang, COUNT(*) AS n_docs,
  CAST(SUM(is_exact_dupe) AS BIGINT) AS n_exact_dupes,
  CAST(SUM(is_near_dupe) AS BIGINT) AS n_near_dupes,
  CAST(SUM(CASE WHEN is_exact_dupe = 0 AND is_near_dupe = 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN is_exact_dupe = 0 AND is_near_dupe = 0 THEN n_chars
           ELSE 0 END) AS BIGINT) AS kept_chars
FROM flagged GROUP BY source, lang
""",
    tags=("dedup", "pipeline", "governance", "materialization"),
    bench=True,
)
def p08_corpus_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup funnel as ONE materialization decision: per
    (source, lang) stratum, how many documents survive after (a) exact
    dedup (md5-fingerprint groups keep their min doc_id — d01's rule)
    and (b) near-dup clustering (every non-canonical member of an LSH
    duplicate component is dropped — d08's components under d16's
    longest-text/min-id survivor rule), plus the kept byte volume.
    Both drop sets are computed on the full corpus independently and a
    document may be flagged by both (the columns report each signal;
    n_kept counts docs clear of both) — the report a pipeline owner
    signs off before writing the clean corpus.

    Scale shape: pure reuse — candidate pairs, components and survivor
    ranks all derive from the session-persisted intermediate seam; the
    funnel itself adds two id-keyed joins (16-byte fingerprint, doc_id)
    and one (source, lang) hash aggregate. Nothing corpus-sized is
    recomputed; no new shuffle exceeds the dedup chain's own."""
    from ..functions.text import doc_fingerprint
    from .llmops import d08_dup_components

    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select(
        "doc_id", "source", "lang", "n_chars",
        doc_fingerprint(F.col("text")).alias("fp"),
    )
    exact_keep = with_fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))

    # Survivor per component via the same struct-max aggregate d16 uses
    # (NOT a per-component window — a template-spam component would make
    # the window's single reducer a hot partition; the struct-max
    # combines map-side like any aggregate).
    comp = d08_dup_components(spark, sf_dir)
    ranked = comp.join(
        docs.select("doc_id", F.length(normalized_text(F.col("text"))).alias("len")),
        "doc_id",
    )
    best = F.max(
        F.struct(
            F.col("len"),
            (-F.col("doc_id")).alias("neg_id"),
            F.col("doc_id").alias("doc_id"),
        )
    )
    survivors = ranked.groupBy("component").agg(
        best.getField("doc_id").alias("keep_doc_id")
    )
    near_drops = (
        comp.join(survivors, "component")
        .filter(F.col("doc_id") != F.col("keep_doc_id"))
        .select("doc_id", F.lit(1).alias("is_near"))
    )

    flagged = (
        with_fp.join(exact_keep, "fp")
        .join(near_drops, "doc_id", "left")
        .select(
            "source",
            "lang",
            "n_chars",
            F.when(F.col("doc_id") != F.col("keep_id"), 1)
            .otherwise(0)
            .alias("is_exact_dupe"),
            F.coalesce(F.col("is_near"), F.lit(0)).alias("is_near_dupe"),
        )
    )
    clean = (F.col("is_exact_dupe") == 0) & (F.col("is_near_dupe") == 0)
    return flagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_exact_dupe").alias("n_exact_dupes"),
        F.sum("is_near_dupe").alias("n_near_dupes"),
        F.sum(F.when(clean, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(clean, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


@query(
    "d19_component_size_histogram",
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
),
comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
sizes AS (SELECT component, COUNT(*) AS size FROM comp GROUP BY 1)
SELECT size, COUNT(*) AS n_components,
       CAST(size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY size
""",
    tags=("dedup", "governance", "reporting"),
)
def d19_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup
    components have 2 members, 3 members, ... and how many documents
    each size class holds. The governance chart that distinguishes
    benign pairwise duplication from template-spam explosions (a fat
    right tail here is what the LSH bucket cap defends against).
    Two tiny aggregations over the seam's cached component table —
    shuffle is component-count sized, then size-class sized."""
    from .llmops import d08_dup_components

    comp = d08_dup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_components"),
        (F.col("size") * F.count(F.lit(1))).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# End-to-end RAG query (p09)
# ---------------------------------------------------------------------------

# Deterministic natural-language query over the synthetic corpus
# vocabulary (same spirit as retrieval._QUERY_TERMS).
_RAG_QUERY_TEXT = "join window hash aggregate shuffle partition"
_RAG_CANDIDATES = 50
_RAG_K = 10
_RAG_DIM = 64


def _rag_chunk_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, doc_id, chunk_idx, chunk_text, embedding): the corpus
    chunked (t06) and every chunk embedded with the deterministic
    embedder — the index-build half of the RAG pipeline (the reference
    builds the same thing by streaming whole messages through Bedrock
    into the OpenSearch k-NN index). vec_id packs (doc_id, chunk_idx)
    so chunk identity survives the ANN stages."""
    from ..operators.embed import embed
    from .llmops import t06_doc_chunking

    chunks = t06_doc_chunking(spark, sf_dir)
    embedded = embed(chunks, text_col="chunk_text", dim=_RAG_DIM, on_error="drop")
    return embedded.select(
        (F.col("doc_id") * 100_000 + F.col("chunk_idx")).alias("vec_id"),
        "doc_id",
        "chunk_idx",
        "chunk_text",
        "embedding",
    )


def _rag_query_vec() -> list[float]:
    from ..operators.embed import DeterministicEmbedder

    vec = DeterministicEmbedder(_RAG_DIM).embed_batch([_RAG_QUERY_TEXT])[0]
    return [float(x) for x in vec]


def _rag_candidates(
    chunk_vecs: DataFrame, qvec: list[float], k: int = _RAG_CANDIDATES
) -> DataFrame:
    """IVF-PQ approximate candidate fetch over the chunk index
    (vec_id, approx_dist). Coarse IVF cells come from k-means (the
    embeddings table's pre-assigned labels don't exist for chunks —
    this is the label_centroids docstring's prescribed swap). Cell ids
    are densified to 0..K-1 via a k-row driver map because
    ivfpq_search's literal centroid table is positional. Shared with
    tests/test_rag_pipeline.py's recall gate so the gated stage IS the
    production stage."""
    from ..operators.kmeans import kmeans_assign
    from ..operators.pq import ivfpq_search

    labels = kmeans_assign(
        chunk_vecs.select("vec_id", "embedding"), k=8, iterations=2
    )
    present = sorted(r.cell for r in labels.select("cell").distinct().collect())
    dense = F.create_map(
        *[F.lit(x) for c, i in ((c, i) for i, c in enumerate(present)) for x in (c, i)]
    )
    corpus = chunk_vecs.select("vec_id", "embedding").join(
        labels.select("vec_id", dense[F.col("cell")].alias("label")), "vec_id"
    )
    return ivfpq_search(
        corpus, qvec, nprobe=4, k=k, m=4, n_codes=16, iterations=2
    )


@query(
    "p09_rag_query",
    oracle=None,  # IVF-PQ codebook training + greedy MMR are not SQL-expressible
    tags=("rag", "retrieval", "ann", "pipeline", "rerank"),
)
def p09_rag_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval half the reference delegates to OpenSearch
    (KDS-P/index-creation-function/lambda_function.py:72-80), composed
    end-to-end inside the engine: embed the query text -> IVF-PQ
    candidate fetch over the chunked+embedded corpus (s10's index) ->
    exact cosine rescore of the candidates -> MMR diversity rerank
    (s14) -> chunk text fetch (t06). Returns the top-10 chunks with
    relevance (sim), diversity-adjusted score (mmr) and provenance.

    Scale shape: the corpus is touched only by the index build (chunk +
    embed + encode, all narrow or seam-shaped passes); the query path
    scans nprobe/K of the PQ code table with zero shuffle, rescores
    exactly |candidates| rows (a broadcast-literal cosine against 50
    rows), and MMR sees only the candidate list. Everything after the
    candidate fetch is driver-sized work distributed per query group —
    thousands of concurrent queries would parallelize by q_id.
    Rows-only entry: tests/test_rag_pipeline.py pins the recall floor
    vs brute-force exact search (the s01 pattern) on the same chunk
    vectors, plus rank/determinism invariants. Deliberately NOT
    benched: its cost is ~40 small driver-iterative jobs (k-means + PQ
    Lloyd rounds), i.e. scheduling overhead that is constant at scale —
    each constituent stage (embed st05, k-means s06, PQ s09/s10, MMR
    s14) already has its own bench row."""
    from pyspark import StorageLevel

    from ..functions.vector import cosine_similarity
    from .retrieval import mmr_select

    chunk_vecs = _rag_chunk_vectors(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    qvec = _rag_query_vec()
    cands = _rag_candidates(chunk_vecs, qvec)
    qlit = F.array(*[F.lit(x) for x in qvec])
    rescored = (
        cands.join(chunk_vecs, "vec_id")
        .select(
            F.lit(0).cast("bigint").alias("q_id"),
            "vec_id",
            "embedding",
            F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("sim"),
        )
    )
    top = mmr_select(rescored, k=_RAG_K)
    return (
        top.join(
            chunk_vecs.select("vec_id", "doc_id", "chunk_idx", "chunk_text"),
            "vec_id",
        )
        .select(
            "rank", "doc_id", "chunk_idx", "vec_id", "sim", "mmr", "chunk_text"
        )
        .orderBy("rank")
    )


_P09B_DIM = 32
_P09B_CELLS = 8
_P09B_NPROBE = 2
_P09B_C = 50
_P09B_K = 10
_P09B_SCALE = 1_000_000


def _p09b_oracle() -> str:
    """The p09b oracle: the WHOLE RAG query path replayed relationally —
    t06 chunking, the m06 md5-BoW tower per chunk (sparse
    (vec_id, bucket, weight) integer rows), seeded-IVF assignment and
    probe selection by exact integer L2 (n2a + n2b - 2*dot, dots via
    bucket joins), the candidate cut, the exact-cosine rescore, and
    mmr_unrolled_steps_sql's 10-step greedy — so DuckDB re-derives the
    answer from RAW DOCUMENT TEXT with no step taken on faith."""
    from .llmops import _SQL_NORM
    from .oracle_sqlgen import mmr_unrolled_steps_sql

    bow_h = "CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT)"
    qn2 = "(SELECT n2 FROM qn)"
    prefix = f"""
WITH chunks AS MATERIALIZED (
  SELECT doc_id, CAST(s / 24 AS INT) AS chunk_idx,
         doc_id * 100000 + CAST(s / 24 AS INT) AS vec_id,
         toks[s+1 : s+32] AS ctoks,
         array_to_string(toks[s+1 : s+32], ' ') AS chunk_text
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(0, len(toks)-1, 24)) AS s
    FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
          FROM documents WHERE {_SQL_NORM} != '')
  )
),
cbw AS MATERIALIZED (
  SELECT vec_id, h % {_P09B_DIM} AS bucket,
         CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS w
  FROM (
    SELECT vec_id, {bow_h} AS h
    FROM (SELECT vec_id, unnest(ctoks) AS tok FROM chunks) WHERE tok != ''
  ) GROUP BY vec_id, h % {_P09B_DIM}
),
cn AS MATERIALIZED (
  SELECT vec_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM cbw GROUP BY vec_id
),
cents AS MATERIALIZED (
  SELECT rn - 1 AS cell, vec_id AS c_id FROM (
    SELECT vec_id, ROW_NUMBER() OVER (
      ORDER BY md5('p09bc:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM chunks
  ) WHERE rn <= {_P09B_CELLS}
),
centw AS MATERIALIZED (
  SELECT c.cell, b.bucket, b.w FROM cents c JOIN cbw b ON b.vec_id = c.c_id
),
centn AS MATERIALIZED (
  SELECT c.cell, n.n2 FROM cents c JOIN cn n ON n.vec_id = c.c_id
),
adot AS MATERIALIZED (
  SELECT a.vec_id, c.cell, CAST(SUM(a.w * c.w) AS BIGINT) AS dot
  FROM cbw a JOIN centw c ON c.bucket = a.bucket
  GROUP BY a.vec_id, c.cell
),
assign AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY v.vec_id
        ORDER BY v.n2 + c.n2 - 2 * COALESCE(d.dot, 0), c.cell) AS arn
    FROM cn v CROSS JOIN centn c
    LEFT JOIN adot d ON d.vec_id = v.vec_id AND d.cell = c.cell
  ) WHERE arn = 1
),
qb AS MATERIALIZED (
  SELECT h % {_P09B_DIM} AS bucket,
         CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS w
  FROM (
    SELECT {bow_h} AS h
    FROM (SELECT unnest(regexp_split_to_array('{_RAG_QUERY_TEXT}',
                                              '[ \\t\\n\\f\\r]+')) AS tok)
    WHERE tok != ''
  ) GROUP BY h % {_P09B_DIM}
),
qn AS (SELECT CAST(SUM(w * w) AS BIGINT) AS n2 FROM qb),
qcdot AS (
  SELECT c.cell, CAST(SUM(q.w * c.w) AS BIGINT) AS dot
  FROM qb q JOIN centw c ON c.bucket = q.bucket GROUP BY c.cell
),
probes AS MATERIALIZED (
  SELECT cell FROM (
    SELECT c.cell, ROW_NUMBER() OVER (
      ORDER BY {qn2} + c.n2 - 2 * COALESCE(d.dot, 0), c.cell) AS prn
    FROM centn c LEFT JOIN qcdot d ON d.cell = c.cell
  ) WHERE prn <= {_P09B_NPROBE}
),
qdot AS MATERIALIZED (
  SELECT b.vec_id, CAST(SUM(b.w * q.w) AS BIGINT) AS dot
  FROM cbw b JOIN qb q ON q.bucket = b.bucket GROUP BY b.vec_id
),
cands AS MATERIALIZED (
  SELECT vec_id, qs FROM (
    SELECT a.vec_id,
      CAST(ROUND(ROUND(COALESCE(d.dot, 0) / sqrt({qn2} * n.n2), 6)
                 * {_P09B_SCALE}.0, 0) AS BIGINT) AS qs,
      ROW_NUMBER() OVER (
        ORDER BY {qn2} + n.n2 - 2 * COALESCE(d.dot, 0), a.vec_id) AS rn
    FROM assign a
    JOIN probes p ON p.cell = a.cell
    JOIN cn n ON n.vec_id = a.vec_id
    LEFT JOIN qdot d ON d.vec_id = a.vec_id
  ) WHERE rn <= {_P09B_C}
),
pdot AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
  FROM cbw a JOIN cbw b ON b.bucket = a.bucket
  WHERE a.vec_id IN (SELECT vec_id FROM cands)
    AND b.vec_id IN (SELECT vec_id FROM cands)
    AND a.vec_id != b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
    CAST(ROUND(ROUND(COALESCE(d.dot, 0) / sqrt(na.n2 * nb.n2), 6)
               * {_P09B_SCALE}.0, 0) AS BIGINT) AS ps
  FROM cands a JOIN cands b ON b.vec_id != a.vec_id
  JOIN cn na ON na.vec_id = a.vec_id
  JOIN cn nb ON nb.vec_id = b.vec_id
  LEFT JOIN pdot d ON d.a_id = a.vec_id AND d.b_id = b.vec_id
)"""
    final = f"""
SELECT a.rank, c.doc_id, c.chunk_idx, a.vec_id,
       a.qs / {_P09B_SCALE}.0 AS sim, a.mmr10 / {_P09B_SCALE * 10}.0 AS mmr,
       c.chunk_text
FROM acc{_P09B_K} a JOIN chunks c ON c.vec_id = a.vec_id"""
    return prefix + mmr_unrolled_steps_sql(_P09B_K) + final


@query(
    "p09b_rag_query_exact",
    oracle=_p09b_oracle(),
    tags=("rag", "retrieval", "ann", "pipeline", "rerank"),
    bench=True,
)
def p09b_rag_query_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p09's END-TO-END RAG query — chunk -> embed -> ANN candidate
    fetch -> exact rescore -> MMR diversity rerank -> chunk-text
    fetch — oracle-certified HASH-EXACT, the round-11 capstone of the
    seeded-twin recipe (s20b/d34/s05b/p02b composed into one row): the
    t06 chunker is already relational; the embedder is the m06
    Md5BowEmbedder tower through the REAL iterator-pandas-UDF seam
    (integer bucket weights -> exact dots and L2 in any summation
    order); the IVF coarse quantizer is md5-SEEDED sample chunks
    (assignment and probe selection by exact integer L2, ties to the
    lowest cell); the candidate cut is top-50 by (integer L2, vec_id);
    the rescore is exact cosine on identical doubles; and the rerank is
    mmr_select_exact's integer greedy, replayed by the oracle as 10
    unrolled CTE steps. p09 (trained IVF-PQ + float MMR) remains the
    production entry for recall; this row value-certifies every seam of
    the reference's query-side dataflow
    (KDS-P/index-creation-function/lambda_function.py:72-80 — the
    retrieval the reference delegates to OpenSearch) against a second
    engine, from raw document text to the final ranked chunks.

    Scale shape (the p09/s05b composition, unchanged): chunk + embed
    are narrow corpus passes (one Python crossing, Arrow-batched);
    centroids are a driver literal; assignment is a per-row fold with
    no exchange; the pruned scan touches nprobe/cells of the chunk
    table; the candidate cut is TakeOrderedAndProject (at most 50 rows
    per map task reach the driver); everything after — pair matrix,
    greedy, text fetch — is shortlist-sized."""
    from pyspark import StorageLevel

    from ..operators.embed import Md5BowEmbedder, embed
    from .llmops import t06_doc_chunking
    from .retrieval import mmr_select_exact

    dim = _P09B_DIM

    def dot_l(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )

    def sq_l2_l(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )

    chunks = t06_doc_chunking(spark, sf_dir)
    vecs = (
        embed(
            chunks,
            text_col="chunk_text",
            embedder_factory=Md5BowEmbedder,
            dim=dim,
            on_error="fail",
        )
        # chunk_text always holds >= 1 token, so no NULLs in practice;
        # kept for parity with the oracle's tok != '' guard
        .filter(F.col("embedding").isNotNull())
        .select(
            (F.col("doc_id") * 100_000 + F.col("chunk_idx")).alias("vec_id"),
            "doc_id",
            "chunk_idx",
            "chunk_text",
            F.transform("embedding", lambda x: x.cast("long")).alias("emb"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # seeded coarse quantizer: the 8 chunks ranked first by md5 — a
    # driver-sized literal at any corpus scale (the kmeans-centroid
    # pattern); ALL downstream integer math is exact, so the oracle
    # replays it bit for bit
    h_cent = F.md5(F.concat(F.lit("p09bc:"), F.col("vec_id").cast("string")))
    cent_rows = vecs.orderBy(h_cent, "vec_id").limit(_P09B_CELLS).collect()
    centroids = [[int(x) for x in r.emb] for r in cent_rows]
    cent_flat = F.lit([x for c in centroids for x in c]).cast("array<long>")

    scored = F.transform(
        F.lit(list(range(_P09B_CELLS))),
        lambda c: F.struct(
            sq_l2_l(F.col("emb"), F.slice(cent_flat, c * dim + 1, dim)).alias(
                "d"
            ),
            c.alias("i"),
        ),
    )
    cell = F.aggregate(
        scored,
        F.element_at(scored, 1),
        lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
    )["i"]

    qvec = [int(x) for x in Md5BowEmbedder(dim).embed_batch([_RAG_QUERY_TEXT])[0]]
    qn2 = sum(x * x for x in qvec)
    # probe selection on the collected centroid literals — pure integer
    # driver math, mirrored by the oracle's (L2, cell) ROW_NUMBER
    probe_cells = sorted(
        range(_P09B_CELLS),
        key=lambda c: (
            sum((q - x) * (q - x) for q, x in zip(qvec, centroids[c])),
            c,
        ),
    )[:_P09B_NPROBE]
    qlit = F.lit(qvec).cast("array<long>")

    cn2 = dot_l(F.col("emb"), F.col("emb"))
    qs = (
        F.round(
            F.round(
                dot_l(F.col("emb"), qlit)
                / F.sqrt((cn2 * F.lit(qn2)).cast("double")),
                6,
            )
            * F.lit(float(_P09B_SCALE)),
            0,
        )
        .cast("long")
        .alias("qs")
    )
    cands = (
        vecs.withColumn("cell", cell)
        .filter(F.col("cell").isin(*[int(c) for c in probe_cells]))
        .select("vec_id", "emb", sq_l2_l(F.col("emb"), qlit).alias("l2q"), qs)
        .orderBy("l2q", "vec_id")
        .limit(_P09B_C)
        .select("vec_id", "emb", "qs")
        # feeds both sides of the pair self-join (the s14 lineage cut)
        .localCheckpoint(eager=False)
    )

    b = cands.select(F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"))
    nb2 = dot_l(F.col("b_emb"), F.col("b_emb"))
    ps = (
        F.round(
            F.round(
                dot_l(F.col("emb"), F.col("b_emb"))
                / F.sqrt((cn2 * nb2).cast("double")),
                6,
            )
            * F.lit(float(_P09B_SCALE)),
            0,
        )
        .cast("long")
        .alias("ps")
    )
    pair_rows = cands.join(
        F.broadcast(b), F.col("b_id") != F.col("vec_id"), "left"
    ).select(
        F.lit(0).cast("bigint").alias("q_id"), "vec_id", "qs", "b_id", ps
    )

    top = mmr_select_exact(pair_rows, k=_P09B_K)
    return (
        top.join(
            vecs.select("vec_id", "doc_id", "chunk_idx", "chunk_text"),
            "vec_id",
        )
        .select(
            "rank", "doc_id", "chunk_idx", "vec_id", "sim", "mmr", "chunk_text"
        )
        .orderBy("rank")
    )


_MANIFEST_SHARDS = 8


@query(
    "p10_training_manifest",
    oracle=f"""
WITH RECURSIVE {{LSH}},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
ranked AS (
  SELECT c.component, c.doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY c.component
      ORDER BY LENGTH({{NORM}}) DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
near_drops AS (SELECT doc_id FROM ranked WHERE rn > 1),
exact_keep AS (
  SELECT md5({{NORM}}) AS fp, MIN(doc_id) AS keep_id
  FROM documents GROUP BY 1
),
kept AS (
  SELECT d.doc_id FROM documents d
  JOIN exact_keep k ON k.fp = md5({{NORM}})
  WHERE d.doc_id = k.keep_id
    AND NOT EXISTS (SELECT 1 FROM near_drops nd WHERE nd.doc_id = d.doc_id)
),
segs AS (
  SELECT doc_id, CAST(s / {{SEG}} AS INT) AS seg_idx,
         array_to_string(toks[s+1 : s+{{SEG}}], ' ') AS seg_text,
         least({{SEG}}, len(toks) - s) AS n_toks
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(0, len(toks)-1, {{SEG}})) AS s
    FROM (SELECT doc_id, regexp_split_to_array({{NORM}}, '\\s+') AS toks
          FROM documents WHERE {{NORM}} != '')
  )
),
shared AS (
  SELECT md5(seg_text) AS h, COUNT(DISTINCT doc_id) AS n_docs
  FROM segs GROUP BY 1
),
cleaned AS (
  SELECT doc_id,
    COALESCE(string_agg(CASE WHEN n_docs < 2 THEN seg_text END,
                        ' ' ORDER BY seg_idx), '') AS cleaned_text,
    CAST(SUM(CASE WHEN n_docs < 2 THEN n_toks ELSE 0 END) AS BIGINT)
      AS n_tokens_clean
  FROM segs JOIN shared ON md5(segs.seg_text) = shared.h
  GROUP BY doc_id
),
manifest AS (
  SELECT k.doc_id,
    md5(CAST(k.doc_id AS VARCHAR) || ':42') AS shuffle_key,
    COALESCE(c.cleaned_text, '') AS cleaned_text,
    COALESCE(c.n_tokens_clean, 0) AS n_tokens_clean
  FROM kept k LEFT JOIN cleaned c ON c.doc_id = k.doc_id
)
SELECT doc_id,
  CAST(('0x' || substr(shuffle_key, 1, 8)) AS BIGINT) % {{NSH}} AS shard,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY CAST(('0x' || substr(shuffle_key, 1, 8)) AS BIGINT) % {{NSH}}
    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
  n_tokens_clean,
  md5(cleaned_text) AS cleaned_fp
FROM manifest
""".format(
        LSH="{LSH}", NORM="{NORM}", SEG="{SEG}", NSH="{NSH}"
    ).format(
        LSH=_SQL_LSH_CTES.strip(),
        NORM=_SQL_NORM,
        SEG=16,
        NSH=_MANIFEST_SHARDS,
    ),
    tags=("pipeline", "dedup", "curation", "materialization", "capstone"),
    bench=True,
)
def p10_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's final deliverable as ONE plan: the per-document
    TRAINING MANIFEST a corpus release ships. A document earns a row by
    surviving exact dedup (min-id per fingerprint, d01) and near-dup
    canonical selection (longest-text survivor of its LSH component,
    d08/d16); its payload is the boilerplate-cleaned text (t19's
    shared-segment removal, fingerprinted) with its clean token count;
    its placement is the deterministic training shard + within-shard
    position (d13's seeded shuffle). p08 reports this funnel as
    counts — p10 EMITS the corpus.

    Scale shape: pure composition of proven pieces — every stage rides
    the session seam (pairs/components computed once), the manifest
    adds one id-keyed left join and the d13 shard shuffle. Nothing
    quadratic, nothing driver-side; shards write independently on 1000
    executors (pos is per-shard rank, never a global sort)."""
    from ..functions.text import doc_fingerprint
    from .llmops import _segments_with_share_counts, d08_dup_components

    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")
    )
    exact_keep = with_fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))

    comp = d08_dup_components(spark, sf_dir)
    lens = docs.select(
        "doc_id", F.length(normalized_text(F.col("text"))).alias("len")
    )
    best = F.max(
        F.struct(
            F.col("len"),
            (-F.col("doc_id")).alias("neg_id"),
            F.col("doc_id").alias("doc_id"),
        )
    )
    survivors = (
        comp.join(lens, "doc_id")
        .groupBy("component")
        .agg(best.getField("doc_id").alias("keep_doc_id"))
    )
    near_drops = (
        comp.join(survivors, "component")
        .filter(F.col("doc_id") != F.col("keep_doc_id"))
        .select("doc_id")
    )
    kept = (
        with_fp.join(exact_keep, "fp")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .join(near_drops, "doc_id", "left_anti")
        .select("doc_id")
    )

    seg = _segments_with_share_counts(spark, sf_dir)
    keep_seg = F.col("n_docs") < 2
    kept_segs = F.array_sort(
        F.collect_list(F.when(keep_seg, F.struct("seg_idx", "seg_text")))
    )
    cleaned = seg.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.transform(kept_segs, lambda x: x["seg_text"])
        ).alias("cleaned_text"),
        F.sum(F.when(keep_seg, F.col("n_toks")).otherwise(0)).alias(
            "n_tokens_clean"
        ),
    )

    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    manifest = (
        kept.join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("shuffle_key"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("n_tokens_clean"), F.lit(0)).alias(
                "n_tokens_clean"
            ),
        )
    )
    shard = (
        F.conv(F.substring("shuffle_key", 1, 8), 16, 10).cast("bigint")
        % _MANIFEST_SHARDS
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        manifest.withColumn("shard", shard)
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
            "n_tokens_clean",
            F.md5("cleaned_text").alias("cleaned_fp"),
        )
    )


_PART_CACHE: dict[tuple[str, str], str] = {}


@query(
    "p11_partitioned_layout",
    oracle=f"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(CASE WHEN {_SQL_NORM} != '' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_nonempty
FROM documents WHERE lang = 'en' GROUP BY source
""",
    tags=("sinks", "sources", "partitioning", "layout"),
)
def p11_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB table-layout contract end to end: documents written
    as a HIVE-PARTITIONED parquet table (partitionBy lang — the layout
    every large corpus store uses so per-language jobs touch only
    their directories), then read back with a lang filter that must be
    satisfied by PARTITION PRUNING — directories outside lang=en are
    never opened (the plan's PartitionFilters carry the predicate;
    pinned in tests/test_partition_pruning.py). The oracle aggregates
    the original table under the same filter, certifying the
    write-read-prune path is lossless. The layout write is cached per
    (sf_dir, content fingerprint) like the ORC/CSV roundtrips."""
    import atexit
    import os
    import shutil
    import tempfile

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (os.path.abspath(sf_dir), _source_fingerprint(src))
    path = _PART_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="part_docs_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        (
            load_table(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(path)
        )
        _PART_CACHE[key] = path
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.when(normalized_text(F.col("text")) != "", 1).otherwise(0)
        ).alias("n_nonempty"),
    )


_EVOLVE_CACHE: dict[tuple[str, str], str] = {}


@query(
    "p12_schema_evolution",
    oracle=f"""
WITH v1 AS (
  SELECT doc_id, source, n_chars, CAST(NULL AS BIGINT) AS quality_tier
  FROM documents WHERE doc_id % 2 = 0
), v2 AS (
  SELECT doc_id, source, n_chars, CAST(n_chars % 3 AS BIGINT) AS quality_tier
  FROM documents WHERE doc_id % 2 = 1
), unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN quality_tier IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_v1_rows,
  CAST(SUM(COALESCE(quality_tier, 0)) AS BIGINT) AS tier_sum
FROM unioned GROUP BY source
""",
    tags=("sources", "sinks", "schema-evolution", "formats"),
)
def p12_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across table versions — the contract every
    long-lived 100-TB corpus store must survive: half the corpus is
    written with the v1 schema, the other half appended with a NEW
    column (quality_tier), and the read uses ``mergeSchema`` so v1
    rows surface the added column as null instead of failing or being
    silently dropped. The aggregate proves all rows of BOTH vintages
    arrived with correct null semantics. (Parquet merges schemas at
    footer level — no rewrite of the v1 files, which is what makes
    evolution affordable at scale; the oracle states the same union
    with an explicit null column.)"""
    import atexit
    import os
    import shutil
    import tempfile

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (os.path.abspath(sf_dir), _source_fingerprint(src))
    path = _EVOLVE_CACHE.get(key)
    docs = load_table(spark, sf_dir, "documents")
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="evolve_docs_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        v1 = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "source", "n_chars"
        )
        v1.write.mode("overwrite").parquet(path)
        v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("n_chars") % 3).cast("bigint").alias("quality_tier"),
        )
        v2.write.mode("append").parquet(path)
        _EVOLVE_CACHE[key] = path
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("quality_tier").isNull(), 1).otherwise(0)
        ).alias("n_v1_rows"),
        F.sum(F.coalesce(F.col("quality_tier"), F.lit(0))).alias("tier_sum"),
    )


# ---------------------------------------------------------------------------
# Shared audit ground truth (d24 recall audit, d28 config advisor)
# ---------------------------------------------------------------------------

# The two sketch audits MUST agree on their ground truth: same
# deterministic ~30% hash sample, same exact-Jaccard expression, same
# threshold. These constants are the single definition both the Spark
# builders and both DuckDB oracles substitute, so a change to one audit
# cannot silently desynchronize the other.
_AUDIT_TAU = 0.5

_SQL_AUDIT_SAMPLE = """
  SELECT doc_id, grams FROM shingled
  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
             AS BIGINT) % 10 < 3 AND len(grams) > 0
"""

_SQL_EXACT_JACCARD = """
ROUND(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0
      THEN 0.0
      ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / len(list_distinct(list_concat(a.grams, b.grams))) END, 6)
""".strip()


def _audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic ~30% hash sample of shingled documents the
    audits run their all-pairs exact comparison on (bounds the audit at
    O((0.3 n)^2) on a chosen n)."""
    from .llmops import _shingled_df

    shingled = _shingled_df(spark, sf_dir)
    return shingled.filter(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % 10
            < 3
        )
        & (F.size("grams") > 0)
    )


def _sampled_true_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, j): every sample pair with exact trigram Jaccard
    >= _AUDIT_TAU — the shared ground truth of d24 and d28. Computed
    with the prefix-filtered exact join (zero false negatives by the
    d27 lemma, certified against the brute-force formulation by BOTH
    audits' DuckDB oracles every driver run) — so the ground-truth pass
    costs O(candidates) instead of O(sample^2), and the audit's sample
    bound becomes a comfort margin rather than a hard ceiling."""
    return prefix_filter_pairs(_audit_sample(spark, sf_dir), _AUDIT_TAU).select(
        "id_a", "id_b", F.col("jaccard").alias("j")
    )


@query(
    "d24_lsh_recall_audit",

    oracle=f"""
WITH {{LSH}},
sample AS ({{SAMPLE}}),
true_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sample a JOIN sample b ON b.doc_id > a.doc_id
  WHERE {{JACCARD}} >= {{TAU}}
),
caught AS (
  SELECT t.id_a, t.id_b FROM true_pairs t
  JOIN lsh_pairs p ON p.id_a = t.id_a AND p.id_b = t.id_b
)
SELECT
  CAST((SELECT COUNT(*) FROM sample) AS BIGINT) AS n_sample_docs,
  CAST((SELECT COUNT(*) FROM true_pairs) AS BIGINT) AS n_true_pairs,
  CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
  ROUND(CASE WHEN (SELECT COUNT(*) FROM true_pairs) = 0 THEN 1.0
        ELSE CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
             / (SELECT COUNT(*) FROM true_pairs) END, 6) AS recall
""".format(
        LSH=_SQL_LSH_CTES.strip(),
        SAMPLE=_SQL_AUDIT_SAMPLE.strip(),
        JACCARD=_SQL_EXACT_JACCARD,
        TAU=_AUDIT_TAU,
    ),
    tags=("dedup", "lsh", "governance", "quality-audit"),
    bench=True,
)
def d24_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch QUALITY CONTROL: what fraction of true near-dup pairs
    (exact trigram Jaccard >= 0.5) does the banded MinHash-LSH
    candidate stage actually surface? Computed on a deterministic
    ~30% hash sample of the corpus, where the all-pairs exact
    comparison is affordable — this is the audit a pipeline owner runs
    on a sample BEFORE trusting LSH on the full 100 TB (all-pairs on
    the full corpus is exactly what LSH exists to avoid; the sample
    bound keeps the audit O((0.3 n)^2) on a chosen n). Complements
    d18, which audits the ESTIMATE on caught pairs; this audits the
    pairs LSH never caught at all. With 16 hashes in 4x4 bands,
    theoretical catch probability at J = 0.5 is
    1 - (1 - 0.5^4)^4 ~ 23%, rising steeply toward 1 for near-exact
    dups — the audit makes that operating point visible on real data
    instead of leaving it as formula trivia."""
    sample = _audit_sample(spark, sf_dir)
    true_pairs = _sampled_true_pairs(spark, sf_dir).select("id_a", "id_b")
    lsh = d04_minhash_lsh_pairs(spark, sf_dir)
    caught = true_pairs.join(lsh, ["id_a", "id_b"])
    n_sample = sample.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("n").alias("n_sample_docs")
    )
    n_true = true_pairs.agg(
        F.count(F.lit(1)).alias("n_true_pairs")
    )
    n_caught = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    out = n_sample.crossJoin(n_true).crossJoin(n_caught)
    return out.select(
        "n_sample_docs",
        "n_true_pairs",
        "n_caught",
        F.round(
            F.when(F.col("n_true_pairs") == 0, F.lit(1.0)).otherwise(
                F.col("n_caught").cast("double") / F.col("n_true_pairs")
            ),
            6,
        ).alias("recall"),
    )


@query(
    "d25_cross_source_matrix",
    oracle=f"""
WITH RECURSIVE {{LSH}},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
comp_src AS (
  SELECT DISTINCT c.component, d.source
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(COUNT(*) AS BIGINT) AS n_shared_components
FROM comp_src a JOIN comp_src b
  ON a.component = b.component AND a.source < b.source
GROUP BY a.source, b.source
""".format(LSH=_SQL_LSH_CTES.strip()),
    tags=("dedup", "governance", "reporting", "provenance"),
)
def d25_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE duplication matrix: for every pair of sources, how
    many near-dup components contain documents from BOTH — the
    provenance heatmap that tells a corpus owner which crawls/dumps
    overlap (mirror sites, re-crawls, syndication) and therefore which
    acquisition pipelines to deduplicate against each other first.
    Rides the seam's components; the matrix itself is two joins over
    the (component, source) DISTINCT projection — dimension-sized
    rows, one hash aggregate, nothing corpus-sized after the dedup
    chain already paid for."""
    from .llmops import d08_dup_components

    comp = d08_dup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    comp_src = comp.join(docs, "doc_id").select("component", "source").distinct()
    a = comp_src.select(
        F.col("component"), F.col("source").alias("source_a")
    )
    b = comp_src.select(
        F.col("component"), F.col("source").alias("source_b")
    )
    return (
        a.join(b, "component")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_components"))
    )


_PASSAGE_TOKENS = 12


@query(
    "d26_passage_provenance",
    oracle=f"""
WITH {{LSH}},
qgrams AS (
  SELECT list_distinct(list_transform(
    generate_series(1, least({_PASSAGE_TOKENS}, len(toks)) - 2),
    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS qg
  FROM (SELECT regexp_split_to_array({{NORM}}, '\\s+') AS toks
        FROM documents WHERE doc_id = 0)
)
SELECT s.doc_id,
  ROUND(CAST(len(list_intersect(s.grams, q.qg)) AS DOUBLE) / len(q.qg), 6)
    AS containment
FROM shingled s, qgrams q
WHERE len(q.qg) > 0
  AND CAST(len(list_intersect(s.grams, q.qg)) AS DOUBLE) / len(q.qg) >= 0.5
""".format(LSH=_SQL_LSH_CTES.strip(), NORM=_SQL_NORM),
    tags=("dedup", "retrieval", "containment", "provenance"),
)
def d26_passage_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage provenance lookup — 'which documents contain this
    passage?': the query side of containment dedup (d15), the check
    run before quoting/attributing or when tracing a memorized span
    back to its sources. The probe passage (doc 0's first 12 tokens,
    standing in for a user-supplied span) is shingled ONCE and enters
    the plan as a broadcast literal array; every corpus document
    computes |passage∩doc| / |passage| in its own partition — a pure
    scan-and-filter with ZERO shuffle, embarrassingly parallel at any
    corpus size (the shingle table rides the session seam). Contrast
    with d15, which verifies candidate PAIRS: here one side is a
    constant, so no join exists at all."""
    from .llmops import _shingled_df, _trigrams

    norm_toks = F.split(normalized_text(F.col("text")), r"\s+")
    passage_grams = [
        r["g"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 0)
        .select(
            F.explode(
                _trigrams(F.slice(norm_toks, 1, _PASSAGE_TOKENS))
            ).alias("g")
        )
        .collect()
    ]
    if not passage_grams:
        raise ValueError("probe document 0 has no shingles")
    qg = F.array(*[F.lit(g) for g in sorted(set(passage_grams))])
    shingled = _shingled_df(spark, sf_dir)
    containment = F.round(
        F.size(F.array_intersect(F.col("grams"), qg)).cast("double")
        / F.size(qg),
        6,
    )
    return (
        shingled.select("doc_id", containment.alias("containment"))
        .filter(F.col("containment") >= 0.5)
    )


_PREFIX_TAU = 0.5  # Jaccard threshold shared with the d04/d10/d24 chain


@query(
    "d27_prefix_filter_join",
    oracle=f"""
WITH shingled AS (
  SELECT doc_id, {_SQL_TRIGRAMS.strip()} AS grams
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, '\\s+') AS toks
        FROM documents)
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    ROUND(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0
          THEN 0.0
          ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) END, 6)
      AS jaccard
  FROM shingled a JOIN shingled b ON b.doc_id > a.doc_id
) WHERE jaccard >= {_PREFIX_TAU}
""",
    tags=("dedup", "similarity", "join", "exact"),
    bench=True,
)
def d27_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin candidate scheme — Chaudhuri et al. 2006, Xiao et
    al. 2008): every document pair with trigram Jaccard >= 0.5, with a
    zero-false-negative guarantee. This is the deterministic sibling of
    the MinHash-LSH chain (d04/d10): LSH trades recall for speed (d24
    measures ~23% catch probability AT the 0.5 threshold), prefix
    filtering is exact — the right tool when a compliance or
    decontamination pass must certify "no near-dup above tau survives".

    The scheme: order every document's distinct shingles by ascending
    corpus document-frequency (rare first — any global total order is
    correct, df-ascending minimizes candidates); a pair with
    Jaccard >= tau must share at least one shingle inside each side's
    first n - ceil(tau*n) + 1 shingles (prefix-filtering lemma), so
    only PREFIX tokens are exploded into the candidate join. Frequent
    shingles almost never appear in a prefix, which is what kills the
    quadratic hub-token blowup a naive inverted-index join suffers.
    The length filter (min size >= tau * max size, implied by
    Jaccard >= tau) prunes candidates before the verify join.

    Scale shape: the shuffles carry (shingle, doc_id) pairs for PREFIX
    tokens only plus one vocabulary-sized frequency aggregate; exact
    Jaccard is paid on candidates, not on n^2. The oracle is the
    brute-force all-pairs join — affordable at sf0.01 (500 docs), which
    is exactly the point: the driver certifies the pruned plan equals
    the exhaustive one. Rounding note: the >= tau filter applies to the
    6-dp ROUNDED score on both engines; a true Jaccard in
    [tau - 5e-7, tau) would round up past the filter only if the union
    exceeded ~1e6 distinct shingles — impossible at any document size
    this corpus ships.
    """
    return prefix_filter_pairs(
        _shingled_df(spark, sf_dir).filter(F.size("grams") > 0), _PREFIX_TAU
    )


def prefix_filter_pairs(sh: DataFrame, tau: float) -> DataFrame:
    """(id_a, id_b, jaccard): every pair of (doc_id, grams) rows in
    ``sh`` with exact Jaccard >= tau, via prefix filtering — the d27
    engine, factored so other exact passes (d24's audit ground truth)
    reuse the certified-zero-false-negative join instead of paying a
    brute-force all-pairs."""
    # Global document frequency per shingle: one vocabulary-keyed
    # aggregate (map-side partial combine; grams are already distinct
    # per doc so COUNT(*) is the df).
    exploded = sh.select("doc_id", F.explode("grams").alias("g"))
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df"))

    # Re-assemble each document's shingles sorted by (df asc, g asc):
    # one join on the shingle key + one grouped sort-collect. array_sort
    # on (df, g) structs gives the deterministic global order both the
    # prefix slice and the lemma rely on.
    ordered = (
        exploded.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "g"))).alias("sg")
        )
        # NOTE (r15, measured): the candidate stage self-joins the
        # prefix explode over this subtree, and its build side is a
        # BroadcastExchange no ReusedExchange can bridge, so the df
        # aggregate + sort-collect execute twice per run (one tower per
        # join side in the plan). Cutting the duplication with a lazy
        # localCheckpoint here was A/B'd and made d27 2.4x SLOWER
        # (4.75 -> 11.45 s within-session medians): materializing the
        # wide sorted-struct arrays through the RDD block path costs
        # far more than the duplicated aggregation saves. Left as the
        # double-computed codegen subtree deliberately.
    )
    n = F.size("sg")
    # ceil(tau*n) in EXACT integer arithmetic: tau as a fraction p/q,
    # ceil(n*p/q) = (n*p + q - 1) div q. A float multiply could land at
    # k + 1e-15 for a non-dyadic tau, overshoot the ceil, and shorten
    # the prefix by one token — a silent false negative in an operator
    # whose contract is zero false negatives.
    from fractions import Fraction

    frac = Fraction(tau).limit_denominator(10**6)
    p, q = frac.numerator, frac.denominator
    num = n.cast("long") * p + (q - 1)
    # subtract the remainder first so the division is exact-integer in
    # double space (a multiple of q divided by q is always representable)
    ceil_tau_n = ((num - num % q) / q).cast("int")
    prefix_len = (n - ceil_tau_n + 1).cast("int")
    pre = ordered.select(
        "doc_id",
        n.alias("n_grams"),
        F.explode(
            F.transform(
                F.slice("sg", 1, prefix_len), lambda s: s["g"]
            )
        ).alias("g"),
    )

    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("b.doc_id") > F.col("a.doc_id"))
            # length filter: Jaccard >= tau implies min >= tau * max —
            # in the same exact p/q integer form as the prefix length
            # (a float tau*n can land at k+1e-15 and drop a pair whose
            # size sits exactly on the bound, e.g. tau=0.55, 55 vs 100)
            & (F.col("a.n_grams").cast("long") * q >= F.col("b.n_grams") * p)
            & (F.col("b.n_grams").cast("long") * q >= F.col("a.n_grams") * p),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            # carry both sizes through the candidate stage (functionally
            # dependent on the ids, so the distinct's cardinality is
            # unchanged): the verify stage derives the union size from
            # them instead of materializing array_union
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .distinct()
    )

    ga = sh.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("a_grams"))
    gb = sh.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("b_grams"))
    inter = F.size(F.array_intersect("a_grams", "b_grams"))
    # grams are DISTINCT per doc (freq's COUNT(*) relies on it above),
    # so |A ∪ B| = |A| + |B| - |A ∩ B| exactly. The verify stage paid
    # array_intersect AND array_union per candidate; union re-hashes
    # both arrays and allocates |A|+|B| elements just to be counted
    # (guide §1.2 per-task work), so deriving the size from the n_grams
    # already carried by the candidate rows drops it — same integers,
    # bit-identical jaccard. Within-session interleaved A/B at sf0.1:
    # d27 4.75 -> 3.91 s median over 5 alternating pairs (-18%).
    union = F.col("na") + F.col("nb") - inter
    jacc = F.round(
        F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union),
        6,
    )
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


_N_BUCKETS = 8

# Bucketed-table materializations, keyed like _ORC_CACHE by (sf_dir,
# source content fingerprint) so a regenerated sf_dir is re-bucketed,
# never compared stale. The value records that the catalog tables
# graft_b_orders / graft_b_lineitem currently point at this key's data.
_BUCKET_CACHE: dict[tuple[str, str], bool] = {}


@query(
    "p13_bucketed_join",
    oracle="""
SELECT priority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(n_lines) AS BIGINT) AS n_lines,
  CAST(SUM(rev) AS DOUBLE) AS revenue
FROM (
  SELECT o.o_orderpriority AS priority, o.o_orderkey,
    COUNT(*) AS n_lines,
    SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
        * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS rev
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
) GROUP BY priority
""",
    tags=("join", "layout", "bucketing", "scale"),
    bench=True,
)
def p13_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via BUCKETED table layout — the
    canonical 100-TB fact-to-fact join strategy. orders and lineitem
    are written once as external bucketed tables (bucketBy(8, orderkey)
    + sortBy, hash-aligned by a pre-write repartition on the same key),
    then the join AND the per-order aggregate both ride the bucket
    partitioning: zero Exchange until the final 5-row priority rollup
    (pinned in tests/test_plan_shapes.py). At 100 TB this is the
    difference between re-shuffling two multi-TB fact tables on every
    query and paying the layout cost once at ingest — exactly what the
    reference's terminal store does by pre-sharding its index 5 ways
    (KDS-P/index-creation-function/lambda_function.py:90-96).

    The per-order partial aggregate also demonstrates the distribution
    subset rule: HashPartitioning(orderkey) satisfies the group-by's
    ClusteredDistribution(priority, orderkey), so the two-level rollup
    adds no shuffle beyond the tiny final one. Money stays DECIMAL
    through both aggregation levels and casts to DOUBLE only at the
    end, keeping the sum associative and the oracle hash exact."""
    import atexit
    import os
    import shutil
    import tempfile

    # Fingerprint EVERY table materialized under this key: a
    # regenerated sf_dir where only lineitem changed must re-bucket.
    fps = "+".join(
        _source_fingerprint(os.path.join(os.path.abspath(sf_dir), f))
        for f in ("orders.parquet", "lineitem.parquet")
    )
    key = (os.path.abspath(sf_dir), "bucket:" + fps)
    # The cache is process-global but the tables are session-scoped: a
    # recreated SparkSession in the same process no longer has them in
    # its catalog, so a bare cache hit would vouch for tables that don't
    # exist (or stale registrations in a shared warehouse). Trust the
    # cache only if THIS session's catalog still has both tables.
    cached = _BUCKET_CACHE.get(key) and all(
        spark.catalog.tableExists(f"graft_b_{t}") for t in ("orders", "lineitem")
    )
    if not cached:
        base = tempfile.mkdtemp(prefix="bucketed_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        for tbl, col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            name = f"graft_b_{tbl}"
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                load_table(spark, sf_dir, tbl)
                # Align write partitioning with the bucket hash so each
                # bucket lands in one file — mandatory for the sorted
                # property, and what keeps file counts sane at scale.
                .repartition(_N_BUCKETS, F.col(col))
                .write.mode("overwrite")
                .option("path", os.path.join(base, tbl))
                .bucketBy(_N_BUCKETS, col)
                .sortBy(col)
                .saveAsTable(name)
            )
        _BUCKET_CACHE.clear()
        _BUCKET_CACHE[key] = True
    o = spark.table("graft_b_orders")
    li = spark.table("graft_b_lineitem")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    per_order = (
        li.hint("MERGE")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority", "o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), rev.alias("rev"))
    )
    return (
        per_order.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


_LSH_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]


@query(
    "d28_lsh_config_advisor",
    oracle=f"""
WITH {{LSH}},
sample AS ({{SAMPLE}}),
true_pairs AS (
  SELECT j FROM (
    SELECT {{JACCARD}} AS j
    FROM sample a JOIN sample b ON b.doc_id > a.doc_id
  ) WHERE j >= {{TAU}}
),
configs(bands, rows_per_band) AS (
  VALUES (16, 1), (8, 2), (4, 4), (2, 8), (1, 16)
)
SELECT c.bands, c.rows_per_band,
  ROUND(POW(1.0 / c.bands, 1.0 / c.rows_per_band), 6) AS threshold,
  CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
  ROUND(AVG(1 - POW(1 - POW(t.j, c.rows_per_band), c.bands)), 6)
    AS expected_recall
FROM configs c CROSS JOIN true_pairs t
GROUP BY c.bands, c.rows_per_band
""".format(
        LSH=_SQL_LSH_CTES.strip(),
        SAMPLE=_SQL_AUDIT_SAMPLE.strip(),
        JACCARD=_SQL_EXACT_JACCARD,
        TAU=_AUDIT_TAU,
    ),
    tags=("dedup", "lsh", "governance", "quality-audit"),
    bench=True,
)
def d28_lsh_config_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH CONFIGURATION ADVISOR, grounded in the corpus: for every
    bands x rows factorization of the 16-hash budget, the expected
    recall of the band join ON THIS CORPUS's true near-dup pairs —
    the number a pipeline owner actually wants when choosing an
    operating point, not the textbook S-curve alone. d24 measures what
    the SHIPPED 4x4 config caught; this projects every alternative
    config through the closed form P(catch | J) = 1 - (1 - J^r)^b
    applied to the OBSERVED exact-Jaccard distribution of true pairs
    (same deterministic ~30% hash sample as d24, so the all-pairs cost
    stays bounded and the two audits agree on their ground truth).
    `threshold` is the standard (1/b)^(1/r) S-curve midpoint per
    config. Shuffle: the sample pair join (the audit's bounded cost)
    plus a 5-row broadcast config dimension; the projection itself is
    arithmetic on candidate-pair rows. The rounded 6-dp Jaccard is the
    pow() input on BOTH engines, so cross-engine pow differences stay
    ~1 ulp, far inside the 6-dp hash gate."""
    true_pairs = _sampled_true_pairs(spark, sf_dir).select("j")
    configs = spark.createDataFrame(
        _LSH_CONFIGS, "bands int, rows_per_band int"
    )
    r, bnd = F.col("rows_per_band"), F.col("bands")
    catch = F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.col("j"), r), bnd)
    return (
        true_pairs.crossJoin(F.broadcast(configs))
        .groupBy("bands", "rows_per_band")
        .agg(
            F.round(
                F.pow(F.lit(1.0) / bnd, F.lit(1.0) / r), 6
            ).alias("threshold"),
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.round(F.avg(catch), 6).alias("expected_recall"),
        )
    )


_BACKFILL_CACHE: dict[tuple[str, str], str] = {}


@query(
    "p14_partition_backfill",
    oracle="""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(CASE WHEN backfilled THEN 1 ELSE 0 END) AS BIGINT) AS n_backfilled
FROM (
  SELECT lang, n_chars, FALSE AS backfilled FROM documents WHERE lang != 'de'
  UNION ALL
  SELECT lang, n_chars + 1 AS n_chars, TRUE AS backfilled
  FROM documents WHERE lang = 'de'
) GROUP BY lang
""",
    tags=("sinks", "partitioning", "layout", "backfill"),
)
def p14_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-LEVEL BACKFILL via dynamic partition overwrite — the
    operational pattern every partitioned 100-TB corpus store lives by:
    re-process ONE partition (here lang=de, standing in for "one day of
    crawl") and overwrite exactly that directory, leaving every other
    partition's files physically untouched. Without
    partitionOverwriteMode=dynamic, mode("overwrite") on a partitioned
    table truncates the WHOLE table — the classic way to lose 99 days
    of data while backfilling one; with it, only partitions present in
    the written DataFrame are replaced. The corrected rows are marked
    (backfilled=true, n_chars+1) so the oracle certifies both halves:
    untouched partitions byte-equivalent to the original corpus,
    the target partition fully replaced by the corrected rows. A
    companion test pins the physical claim — non-target partition files
    keep their mtimes (same files, not rewritten equivalents).

    Scale shape: the backfill job scans and writes ONLY the target
    partition (directory pruning on the read, dynamic overwrite on the
    write) — cost proportional to the partition, not the table."""
    import atexit
    import os
    import shutil
    import tempfile

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    key = (os.path.abspath(sf_dir), "backfill:" + _source_fingerprint(src))
    path = _BACKFILL_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="backfill_docs_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "backfilled", F.lit(False)
        )
        docs.write.mode("overwrite").partitionBy("lang").parquet(path)

        # The backfill: read ONLY the target partition (directory
        # pruning), correct it, dynamically overwrite just that
        # partition.
        corrected = (
            spark.read.parquet(path)
            .filter(F.col("lang") == "de")
            .withColumn("n_chars", F.col("n_chars") + 1)
            .withColumn("backfilled", F.lit(True))
        )
        corrected.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("lang").parquet(path)
        _BACKFILL_CACHE[key] = path

    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("backfilled").cast("long")).alias("n_backfilled"),
    )


@query(
    "p15_snapshot_diff",
    oracle="""
WITH v0 AS (
  SELECT doc_id, md5(text) AS fp, n_chars FROM documents WHERE doc_id % 3 != 0
),
v1 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END) AS fp,
         n_chars + CASE WHEN doc_id % 5 = 0 THEN 8 ELSE 0 END AS n_chars
  FROM documents WHERE doc_id % 4 != 0
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS total_chars
FROM (
  SELECT CASE WHEN v0.doc_id IS NULL THEN 'added'
              WHEN v1.doc_id IS NULL THEN 'removed'
              WHEN v0.fp != v1.fp THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(v1.n_chars, v0.n_chars) AS chars
  FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id
)
GROUP BY status
""",
    tags=("governance", "diff", "pipeline"),
)
def p15_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version diff — the governance query every training-data
    release runs: given two corpus snapshots, classify every document
    as added / removed / changed / unchanged by content fingerprint and
    report per-status counts and character mass. Here v0 is the corpus
    split (doc_id % 3 != 0) and v1 a simulated next release (different
    membership, every fifth document's text edited — both engines apply
    the same deterministic edit, so 'changed' is real fingerprint
    drift, not trivia). Shape: two fingerprint projections (16-byte
    md5, never the text twice) full-outer-joined on doc_id — ONE
    shuffle on the id, the same-table scan shared; the status rollup is
    a combinable 4-group aggregate. At 100 TB this is the id-partition
    join d25's cross-source matrix already prices; snapshots stored
    id-bucketed make it zero-Exchange (the p13 layout)."""
    docs = load_table(spark, sf_dir, "documents")
    v0 = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    edited = F.col("doc_id") % 5 == 0
    v1 = docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id",
        F.md5(
            F.when(edited, F.concat(F.col("text"), F.lit(" updated"))).otherwise(
                F.col("text")
            )
        ).alias("fp"),
        (F.col("n_chars") + F.when(edited, F.lit(8)).otherwise(F.lit(0))).alias(
            "n_chars"
        ),
    )
    j = v0.alias("a").join(
        v1.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce(F.col("b.n_chars"), F.col("a.n_chars")).alias("chars"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
    )


_CDC_CUTOFF = "2024-01-16"


@query(
    "p16_cdc_apply",
    oracle="""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, CAST(event_id AS BIGINT) AS last_event_id,
       event_type AS state_type, value AS state_value
FROM ranked WHERE rn = 1 AND event_type != 'error'
""",
    tags=("pipeline", "cdc", "governance"),
    bench=True,
)
def p16_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC changelog onto an existing snapshot — the companion
    of p15's diff, and the batch twin of st10's streaming upsert. The
    events table is read as a keyed change stream over a user-state
    table: every event upserts (event_type, value) for its user and an
    'error' event tombstones the account. The Spark side runs the
    INCREMENTAL shape a warehouse actually runs: compact the pre-cutoff
    half of the log into a base snapshot, compact the post-cutoff delta,
    then merge delta-over-base with a full-outer coalesce that drops
    tombstoned keys. The oracle recomputes the final state from the
    WHOLE log from scratch — so every driver run re-certifies the
    incremental-apply algebra (apply(compact(h1), h2) == compact(h1
    UNION h2)) hash-exactly, the property that lets 100 TB deployments
    apply daily deltas instead of re-compacting history. Shape: last
    writer per key is max(struct(ts, event_id, ...)) — a COMBINABLE
    aggregate (map-side partials, no per-key sort, skew-immune), never
    a row_number window; the merge is one equi-join on the key, and
    both sides stored key-bucketed (p13 layout) make it zero-Exchange.
    Ties cannot occur: event_id is unique and orders the struct after
    ts in both engines."""
    from ..operators.stateful import last_writer_compact as compact

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")

    # Base snapshot: compacted pre-cutoff history WITH tombstones kept —
    # a snapshot must remember deletions that happened inside its own
    # half, or a tombstoned key with no delta op would wrongly survive.
    base = compact(ev.filter(F.col("ts") < cutoff))
    delta = compact(ev.filter(F.col("ts") >= cutoff))
    merged = base.alias("b").join(
        delta.alias("d"), F.col("b.user_id") == F.col("d.user_id"), "full_outer"
    )
    pick = F.when(F.col("d.user_id").isNotNull(), F.struct(
        F.col("d.last_ts").alias("last_ts"),
        F.col("d.last_event_id").alias("last_event_id"),
        F.col("d.state_type").alias("state_type"),
        F.col("d.state_value").alias("state_value"),
    )).otherwise(F.struct(
        F.col("b.last_ts").alias("last_ts"),
        F.col("b.last_event_id").alias("last_event_id"),
        F.col("b.state_type").alias("state_type"),
        F.col("b.state_value").alias("state_value"),
    ))
    return (
        merged.select(
            F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
            pick.alias("s"),
        )
        .filter(F.col("s.state_type") != F.lit("error"))
        .select(
            "user_id",
            F.col("s.last_ts").alias("last_ts"),
            F.col("s.last_event_id").alias("last_event_id"),
            F.col("s.state_type").alias("state_type"),
            F.col("s.state_value").alias("state_value"),
        )
    )


@query(
    "d30_leakage_safe_split",
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
),
comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
grouped AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, group_id,
  CASE WHEN bkt < 80 THEN 'train'
       WHEN bkt < 90 THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id, group_id,
    CAST(('0x' || substr(
      md5(CAST(group_id AS VARCHAR) || ':split42'), 1, 8)) AS BIGINT)
      % 100 AS bkt
  FROM grouped
)
""",
    tags=("curation", "dedup", "sampling", "governance"),
)
def d30_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the unit of assignment is the
    NEAR-DUP COMPONENT, not the document — a doc-keyed hash split puts
    near-identical pairs on both sides of the train/eval boundary and
    silently inflates every benchmark number trained on the corpus.
    Group key = connected component of the LSH dup graph (d21's
    alternating-star operator, O(log n) rounds at any diameter);
    singleton docs are their own group. The split is a seeded md5
    bucket of the GROUP id (engine-portable first-8-hex-chars
    arithmetic, the d13 pattern) at 80/10/10 — so by construction every
    member of a component lands in the same split, the invariant the
    dedicated property test pins. At 100 TB: components are computed on
    the edge list alone (edges << docs), the assignment joins back to
    the corpus on doc_id (one shuffle, or zero-Exchange from the p13
    bucketed layout), and the bucket is a pure map — no global sort, no
    driver state, reproducible on any engine from the seed alone."""
    from ..operators.graph import connected_components_star

    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    comp = connected_components_star(pairs, "id_a", "id_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    grouped = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("group_id")
    )
    bkt = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("group_id").cast("string"), F.lit(":split42"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return grouped.select(
        "doc_id",
        "group_id",
        F.when(bkt < 80, F.lit("train"))
        .when(bkt < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_PCA_K = 8


@query(
    "s21_pca_projection",
    tags=("similarity", "projection", "iterative"),
    bench=True,
)
def s21_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection to 8 dims, long form (vec_id, component p,
    projected value) — s12's output contract with the variance-OPTIMAL
    basis instead of random planes (top-k PCA provably maximizes
    captured variance over all orthonormal k-sets; the gap vs s12's JL
    planes is measured in tests/test_pca.py). Fit is ONE pass: each
    Arrow batch emits a (count, sum, gram) partial from mapInPandas
    (map-side combine by construction), the driver sums the bounded
    partials and eigendecomposes the dim x dim covariance; projection
    is one GEMM per batch against the closure-shipped basis — zero
    shuffle end to end except the partials' own collect (one row per
    batch). Deterministic: eigh on a fixed covariance plus the
    largest-entry-positive sign convention, so reruns emit identical
    rows. Not SQL-expressible (eigendecomposition) -> rows-only;
    determinism, orthonormality, variance-equals-eigenvalue, and
    optimality-over-s12 are pinned in tests/test_pca.py."""
    from ..config import PipelineConfig
    from ..operators.pca import pca_fit, pca_project_broadcast

    em = load_table(spark, sf_dir, "embeddings")
    dim = PipelineConfig().resolved_dim()
    W, _, mu = pca_fit(em, "embedding", dim=dim, k=_PCA_K)
    proj = pca_project_broadcast(em, W, mu, "embedding")
    # a NULL/wrong-length embedding projects to NULL; emit the same 8
    # (p, NULL) rows s12 emits for it — posexplode on the raw NULL
    # array would silently DROP the entity from the long form
    filled = F.coalesce(
        F.col("proj"),
        F.array(*[F.lit(None).cast("double") for _ in range(_PCA_K)]),
    )
    return proj.select(
        "vec_id",
        F.posexplode(filled),
    ).select(
        "vec_id",
        F.col("pos").cast("bigint").alias("p"),
        F.round(F.col("col"), 6).alias("proj"),
    )


_S22_COARSE = 40
_S22_K = 5


@query(
    "s22_pca_ann",
    oracle=None,  # eigendecomposition is not SQL-expressible
    tags=("similarity", "projection", "ann", "rerank"),
    bench=True,
)
def s22_pca_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-compressed ANN — WHY s21 exists, run end to end: fit the
    top-8 basis on the corpus, shortlist each query's 40 nearest
    corpus vectors by squared-L2 in the 8-d PROJECTED space (8
    arithmetic ops per candidate instead of 64 — at Titan width, 1024),
    then re-rank the shortlist by exact cosine in the FULL space and
    keep 5. Like s20's IVFADC+R, compression only has to keep true
    neighbors inside the shortlist, not order them; the exact math runs
    on 40 rows per query. Scale shape: the coarse pass broadcasts the
    (tiny) projected query set and scans only (vec_id, proj) — the
    corpus' full vectors never enter the coarse exchange; the shortlist
    rejoins the raw vectors as a BROADCAST id join (candidates are
    queries x 40 rows); both top-N cuts ride Catalyst's two-phase
    WindowGroupLimit. Recall follows the compression honestly (the s05
    contract): the testdata is near-isotropic (top-8 carries ~20% of
    variance), so recall@5 is ~0.46 at a 40-wide shortlist — vs 0.20
    for s12's JL planes at the SAME shortlist, the 2.3x that the
    variance-optimal basis buys; on real embedding corpora (which are
    strongly anisotropic) the same 8 dims carry far more. Rows-only
    (eigh); the recall floor, the PCA>JL margin, and determinism are
    pinned in tests/test_pca.py."""
    from pyspark.sql import Window

    from ..config import PipelineConfig
    from ..functions.vector import cosine_similarity
    from ..operators.pca import pca_fit, pca_project_broadcast

    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") % 50 == 0)
    corpus = em.filter(F.col("vec_id") % 50 != 0)
    dim = PipelineConfig().resolved_dim()
    W, _, mu = pca_fit(corpus, "embedding", dim=dim, k=8)

    # NULL projections (NULL/wrong-length embeddings) must be dropped
    # BEFORE the coarse rank: d2 over a NULL proj is NULL and ascending
    # sort is NULLS FIRST, so one bad corpus vector would otherwise
    # occupy rank 1 of EVERY query's shortlist
    cp = (
        pca_project_broadcast(corpus, W, mu, "embedding")
        .select("vec_id", "proj")
        .filter(F.col("proj").isNotNull())
    )
    qp = F.broadcast(
        pca_project_broadcast(queries, W, mu, "embedding")
        .select(F.col("vec_id").alias("q_id"), F.col("proj").alias("q_proj"))
        .filter(F.col("q_proj").isNotNull())
    )
    d2 = F.aggregate(
        F.zip_with(F.col("proj"), F.col("q_proj"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wc = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    shortlist = (
        cp.join(qp, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", d2.alias("d2"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _S22_COARSE)
        .select("q_id", "vec_id")
    )
    # exact re-rank: candidate ids (queries x 40 rows) broadcast back
    # onto the raw vectors; the corpus never shuffles
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand = (
        corpus.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("sim"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S22_K)
        .select("q_id", "vec_id", "sim", F.col("rank").cast("bigint").alias("rank"))
    )


# s22b: s22's projection-ANN serving dataflow with the eigenbasis
# replaced by an md5-SEEDED basis, hash-exact — the s20b derivation
# applied to the dimensionality-reduction family (the last ANN family
# whose serving path had no value-certified twin).
_S22B_K = 8  # projected dims (= s21/s22's PCA k)
_S22B_COARSE = 40
_S22B_TOPK = 5
_S22B_QMOD = 50  # the s22/s23 query universe

_S22B_SQL_DOT = """
ROUND(list_reduce(list_prepend(0.0, list_transform(generate_series(1, {n}),
  {i} -> {a} * {b})), (acc, x) -> acc + x), 6)
"""


def _s22b_sql_dot(n: int, i: str, a: str, b: str) -> str:
    return _S22B_SQL_DOT.format(n=n, i=i, a=a, b=b).strip()


@query(
    "s22b_projection_ann_seeded",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_S20B_DIM}
),
basis AS (
  SELECT rn - 1 AS p, emb FROM (
    SELECT vec_id, emb, ROW_NUMBER() OVER (
      ORDER BY md5('s22b:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM valid WHERE vec_id % {_S22B_QMOD} != 0
  ) WHERE rn <= {_S22B_K}
),
proj AS MATERIALIZED (
  SELECT v.vec_id, b.p,
    CAST(ROUND({_s22b_sql_dot(_S20B_DIM, "i", "v.emb[i]", "b.emb[i]")}
         * 1000000.0, 0) AS BIGINT) AS pv
  FROM valid v, basis b
),
coarse AS MATERIALIZED (
  SELECT q_id, vec_id, coarse_d2 FROM (
    SELECT qp.vec_id AS q_id, cp.vec_id,
      CAST(SUM((cp.pv - qp.pv) * (cp.pv - qp.pv)) AS BIGINT) AS coarse_d2,
      ROW_NUMBER() OVER (
        PARTITION BY qp.vec_id
        ORDER BY CAST(SUM((cp.pv - qp.pv) * (cp.pv - qp.pv)) AS BIGINT),
                 cp.vec_id) AS crank
    FROM proj cp JOIN proj qp ON cp.p = qp.p
    WHERE cp.vec_id % {_S22B_QMOD} != 0 AND qp.vec_id % {_S22B_QMOD} = 0
    GROUP BY qp.vec_id, cp.vec_id
  ) WHERE crank <= {_S22B_COARSE}
)
SELECT q_id, vec_id, coarse_d2, exact_dist, rank FROM (
  SELECT s.q_id, s.vec_id, s.coarse_d2,
    {_s20b_sql_l2(_S20B_DIM, "i", "q.emb[i]", "v.emb[i]")} AS exact_dist,
    ROW_NUMBER() OVER (
      PARTITION BY s.q_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "q.emb[i]", "v.emb[i]")},
               s.vec_id) AS rank
  FROM coarse s
  JOIN valid v ON v.vec_id = s.vec_id
  JOIN valid q ON q.vec_id = s.q_id
) WHERE rank <= {_S22B_TOPK}
""",
    tags=("similarity", "projection", "ann", "rerank"),
    bench=True,
)
def s22b_projection_ann_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality-reduction ANN serving, oracle-certified
    HASH-EXACT end to end — s22's exact pipeline shape (project the
    corpus and queries to {_S22B_K} dims -> shortlist {_S22B_COARSE} by
    squared-L2 in the PROJECTED space -> re-rank the shortlist by exact
    full-space distance -> keep {_S22B_TOPK}) with the one non-
    relational artifact, the eigendecomposed PCA basis, replaced by an
    md5-SEEDED corpus sample (basis = the {_S22B_K} corpus vectors
    ranked first by ``md5('s22b:' || vec_id)`` — a random-projection
    basis in the Johnson-Lindenstrauss sense, i.e. s12's guarantee
    rather than s21's variance-optimal one). Every projection is a
    fixed-order dot fold ROUND(d, 6) scaled to an exact BIGINT, the
    coarse distance is pure integer arithmetic (order-free), and both
    rank cuts break ties by id — so the whole serving path (project,
    prune, broadcast re-rank) is certified value-for-value against a
    second engine. s21/s22 keep the trained eigenbasis (the production
    path; determinism, orthonormality, and the PCA-over-JL recall
    margin are pinned in tests/test_pca.py); swap the seeded basis for
    the trained one and the dataflow is unchanged. Closes the last ANN
    family (after s05b IVF, s09b PQ, s20b IVFADC+R, s23 Hamming)
    without a value-certified serving twin.

    Scale shape (identical to s22): the basis is a driver-sized
    literal; projection is a narrow per-row fold (no exchange, raw
    vectors never leave their scan partition); the coarse pass
    broadcasts the projected queries and scans only (vec_id, 8
    BIGINTs); the shortlist rejoins raw vectors as a BROADCAST id
    join; both cuts are two-phase WindowGroupLimit."""
    from pyspark.sql import Window

    dim, k = _S20B_DIM, _S22B_K

    def dot(a, b):
        return F.aggregate(
            F.zip_with(
                a, b, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

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
    valid = em.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == dim)
    ).select("vec_id", "embedding")
    corpus = valid.filter(F.col("vec_id") % _S22B_QMOD != 0)
    queries = valid.filter(F.col("vec_id") % _S22B_QMOD == 0)

    # -- basis: one md5-ranked corpus sample (driver-sized) ------------
    h_b = F.md5(F.concat(F.lit("s22b:"), F.col("vec_id").cast("string")))
    b_rows = corpus.orderBy(h_b, "vec_id").limit(k).collect()
    b_flat = F.lit(
        [float(x) for r in b_rows for x in r.embedding]
    ).cast("array<double>")

    # -- projection: 8 scaled-integer dot folds per row (no exchange) --
    pvec = F.transform(
        F.lit(list(range(k))),
        lambda p: F.round(
            F.round(dot(F.col("embedding"), F.slice(b_flat, p * dim + 1, dim)), 6)
            * F.lit(1000000.0),
            0,
        ).cast("long"),
    )
    cp = corpus.select("vec_id", pvec.alias("pvec"))
    qp = queries.select(
        F.col("vec_id").alias("q_id"), pvec.alias("q_pvec")
    )

    # -- coarse shortlist: integer L2 in the projected space -----------
    d2 = F.aggregate(
        F.zip_with(
            F.col("pvec"), F.col("q_pvec"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    wc = Window.partitionBy("q_id").orderBy("coarse_d2", "vec_id")
    shortlist = (
        cp.crossJoin(F.broadcast(qp))
        .select("q_id", "vec_id", d2.alias("coarse_d2"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _S22B_COARSE)
        .select("q_id", "vec_id", "coarse_d2")
    )

    # -- exact full-space re-rank on the broadcast shortlist -----------
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = F.round(sq_l2(F.col("embedding"), F.col("q_vec")), 6)
    wr = Window.partitionBy("q_id").orderBy("exact_dist", "vec_id")
    return (
        corpus.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", "coarse_d2", exact.alias("exact_dist"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S22B_TOPK)
    )


_S23_COARSE = 40
_S23_K = 5


def _sign_bits_split(em: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ONE construction of the binary-quantization universe shared
    by s23 (serving) and s24 (the advisor measuring it): packed sign
    bits (functions/vector.py pack_sign_bits, dims 1-32 / 33-64) over
    the embedding table, NULL-word rows dropped BEFORE any ascending
    Hamming rank (NULLS FIRST would otherwise top every shortlist),
    split into (queries, corpus) on vec_id % 50 — the same query
    universe as s22 so recall numbers compare across coarse passes.
    Any change to the bit layout, null policy, or split rule lands in
    both entries (and both oracle strings via _SQL_SIGN_BITS) from
    exactly one place."""
    from ..functions.vector import pack_sign_bits

    bits = em.select(
        "vec_id",
        "embedding",
        pack_sign_bits(F.col("embedding"), 1, 32).alias("b0"),
        pack_sign_bits(F.col("embedding"), 33, 64).alias("b1"),
    ).filter(F.col("b0").isNotNull())
    return (
        bits.filter(F.col("vec_id") % 50 == 0),
        bits.filter(F.col("vec_id") % 50 != 0),
    )

_SQL_SIGN_BITS = """
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(generate_series({lo}, {hi}), d ->
      CASE WHEN CAST(embedding[d] AS DOUBLE) > 0
           THEN CAST(1 AS BIGINT) << (d - {lo}) ELSE CAST(0 AS BIGINT) END)),
    (a, b) -> a + b)
"""


@query(
    "s23_binary_hamming_ann",
    oracle=f"""
WITH bits AS (
  SELECT vec_id, embedding,
    {_SQL_SIGN_BITS.format(lo=1, hi=32).strip()} AS b0,
    {_SQL_SIGN_BITS.format(lo=33, hi=64).strip()} AS b1
  FROM embeddings
  WHERE embedding IS NOT NULL
),
coarse AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         c.embedding AS c_emb, q.embedding AS q_emb,
         CAST(bit_count(xor(q.b0, c.b0))
              + bit_count(xor(q.b1, c.b1)) AS BIGINT) AS hamming,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)),
                    c.vec_id) AS crank
  FROM (SELECT * FROM bits WHERE vec_id % 50 = 0) q
  JOIN (SELECT * FROM bits WHERE vec_id % 50 != 0) c ON true
)
SELECT q_id, vec_id, hamming, sim, rank FROM (
  SELECT q_id, vec_id, hamming,
    ROUND(list_cosine_similarity(CAST(c_emb AS DOUBLE[]),
                                 CAST(q_emb AS DOUBLE[])), 6) AS sim,
    ROW_NUMBER() OVER (
      PARTITION BY q_id
      ORDER BY ROUND(list_cosine_similarity(CAST(c_emb AS DOUBLE[]),
                                            CAST(q_emb AS DOUBLE[])), 6) DESC,
               vec_id) AS rank
  FROM coarse WHERE crank <= {_S23_COARSE}
) WHERE rank <= {_S23_K}
""",
    tags=("similarity", "ann", "quantization", "rerank"),
    bench=True,
)
def s23_binary_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: 1-bit sign quantization packs each 64-dim
    vector into TWO BIGINT words (functions/vector.py pack_sign_bits);
    the coarse pass ranks corpus vectors per query by Hamming distance —
    ``bit_count(b XOR q)``, two popcount instructions per candidate
    inside whole-stage codegen — and only the 40-wide shortlist
    pays the exact full-space cosine re-rank (keep 5). The public
    recipe behind faiss' binary indexes / "Binary Passage Retrieval"
    (Yamada et al. 2021): sign bits are Charikar hyperplane LSH with the
    coordinate axes as planes, so Hamming rank preserves angular order
    well enough for a shortlist, and 1-bit quantization is a 32x
    compression at Titan's 1024-dim width (128 bytes/vector). Unlike
    s22 (PCA, rows-only — eigh isn't SQL), EVERY stage here is
    relational, so the whole approximate pipeline is oracle-certified
    hash-exact. Scale shape: the coarse exchange carries (q_id, vec_id,
    hamming) — 24 bytes/candidate, never the raw vectors (s22's
    contract); both cuts ride Catalyst's two-phase WindowGroupLimit;
    the re-rank re-joins raw vectors by BROADCAST id join (queries x
    40 rows). At 100 TB the bit table is its own compact
    materialization (16 bytes/vector at dim 64, 128 at dim 1024) and
    the corpus scan reads ONLY it — the full-precision column stays
    parquet-pruned until the shortlist asks for 40 rows per
    query. Width ceiling, honestly priced: the flat-sum pack is right
    at THIS width (two words, zero Python), but at Titan's 1024 dims
    its 1024 CASE terms break janino compile and fall back to
    interpreted eval — production width packs via the bit-layout-equal
    Arrow packer (operators/similarity.pack_sign_words_arrow) with the
    word-array popcount fold, both priced in the s23_stress bench pair
    (the kmeans literal-vs-GEMM auto-switch philosophy).
    Recall@5 vs exact brute force is 0.76 at the 40-wide
    shortlist on the near-isotropic testdata — vs 0.46 for s22's 8-dim
    PCA coarse pass at the SAME width (64 sign planes out-rank 8
    variance-optimal dims); floor pinned in tests/test_binary_ann.py. The reference delegates all similarity to
    OpenSearch HNSW (KDS-P/index-creation-function/lambda_function.py:72-80);
    this is the engine-native path."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    em = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _sign_bits_split(em)

    qb = F.broadcast(
        queries.select(
            F.col("vec_id").alias("q_id"),
            F.col("b0").alias("q0"),
            F.col("b1").alias("q1"),
        )
    )
    ham = (
        F.bit_count(F.col("b0").bitwiseXOR(F.col("q0")))
        + F.bit_count(F.col("b1").bitwiseXOR(F.col("q1")))
    ).cast("long")
    wc = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    shortlist = (
        corpus.select("vec_id", "b0", "b1")
        .join(qb, F.lit(True))
        .select("q_id", "vec_id", ham.alias("hamming"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _S23_COARSE)
        .select("q_id", "vec_id", "hamming")
    )

    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand = (
        corpus.select("vec_id", "embedding")
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            "hamming",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("sim"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S23_K)
        .select(
            "q_id",
            "vec_id",
            "hamming",
            "sim",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_S28_K = 10
_S28_QMOD = 50  # the s23/s25 query universe


@query(
    "s28_hard_negative_mining",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
    AND list_reduce(list_prepend(0.0,
          list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
        (a, b) -> a + b) > 0
),
q AS (
  SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
  FROM valid WHERE vec_id % {_S28_QMOD} = 0
),
c AS (SELECT * FROM valid WHERE vec_id % {_S28_QMOD} != 0),
scored AS (
  SELECT q.q_id, q.q_label, c.vec_id, c.label,
         ROUND(list_cosine_similarity(c.emb, q.q_emb), 6) AS sim
  FROM q, c
),
pos AS (
  SELECT q_id, MAX(sim) AS pos_sim FROM scored
  WHERE label = q_label GROUP BY q_id
),
neg AS (
  SELECT q_id, q_label, vec_id, label AS neg_label, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM scored WHERE label != q_label
)
SELECT n.q_id, n.q_label, n.vec_id, n.neg_label, n.sim,
       ROUND(p.pos_sim - n.sim, 6) AS margin, n.rank
FROM neg n LEFT JOIN pos p USING (q_id)
WHERE n.rank <= {_S28_K}
""",
    tags=("similarity", "training-data", "contrastive", "mining"),
    bench=True,
)
def s28_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training (the
    DPR/ANCE recipe, Karpukhin et al. 2020 / Xiong et al. 2021): for
    every query vector, the top-10 MOST-similar corpus items with
    a DIFFERENT label — the negatives that actually move a contrastive
    loss — plus ``margin`` = (query's best same-label similarity −
    negative's similarity), the quantity triplet-loss miners threshold
    on (margin ~ 0 is the gold in-batch negative; margin < 0 flags
    label noise). Labels play the relevance role, as in s25/s27.

    Scale shape: queries broadcast; TWO corpus passes, each one scan —
    the negative pass scores cosine map-side and rank-cuts through the
    two-phase WindowGroupLimit (<= |Q|*k rows per map task reach the
    exchange), the positive pass is a map-side-combinable MAX grouped
    by query (|Q|-sized result, broadcast back). A q_id-partitioned
    window over the full scored set would shuffle |Q|*|corpus| rows to
    merge the two — the re-scan is the cheaper plan at any scale. Ties
    break on (ROUND(sim, 6), vec_id), the s02 cross-engine ordering.
    Validity contract (the d34/s20b hygiene, r10 review): NULL,
    wrong-length, and zero-norm vectors are filtered identically on
    both sides — a zero vector's cosine is NULL in Spark but -1.0 in
    DuckDB, a divergence the shared filter removes. The reference has
    no mining surface at all (similarity delegated to OpenSearch);
    this is engine-native training-data tooling."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity, dot

    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
        & (dot(F.col("embedding"), F.col("embedding")) > 0)
    )
    queries = F.broadcast(
        em.filter(F.col("vec_id") % _S28_QMOD == 0).select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_emb"),
        )
    )
    corpus = em.filter(F.col("vec_id") % _S28_QMOD != 0)
    sim6 = F.round(
        cosine_similarity(F.col("embedding"), F.col("q_emb")), 6
    ).alias("sim")
    scored = corpus.crossJoin(queries).select(
        "q_id", "q_label", "vec_id", "label", sim6
    )
    pos = F.broadcast(
        scored.filter(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.max("sim").alias("pos_sim"))
    )
    wn = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.filter(F.col("label") != F.col("q_label"))
        .withColumn("rank", F.row_number().over(wn))
        .filter(F.col("rank") <= _S28_K)
        .join(pos, "q_id", "left")
        .select(
            "q_id",
            "q_label",
            "vec_id",
            F.col("label").alias("neg_label"),
            "sim",
            F.round(F.col("pos_sim") - F.col("sim"), 6).alias("margin"),
            "rank",
        )
    )


@query(
    "p17_data_quality_gate",
    oracle="""
WITH orders_corr AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 103 = 0 THEN NULL
              WHEN o_orderkey % 101 = 0 THEN -1 - o_custkey
              ELSE o_custkey END AS o_custkey
  FROM orders
),
lineitem_corr AS (
  SELECT l_orderkey,
         CASE WHEN l_orderkey % 97 = 0 THEN -l_quantity ELSE l_quantity END AS l_quantity,
         CASE WHEN l_orderkey % 89 = 0 THEN 'X' ELSE l_returnflag END AS l_returnflag,
         l_discount
  FROM lineitem
),
checks AS (
  SELECT 'raw' AS dataset, 'orders' AS table_name, 'custkey_not_null' AS rule,
    COUNT(*) FILTER (o_custkey IS NULL) AS n_violations, COUNT(*) AS n_checked FROM orders
  UNION ALL
  SELECT 'corrupted', 'orders', 'custkey_not_null',
    COUNT(*) FILTER (o_custkey IS NULL), COUNT(*) FROM orders_corr
  UNION ALL
  SELECT 'raw', 'orders', 'pk_unique',
    COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END), 0), COALESCE(SUM(cnt), 0)
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
  UNION ALL
  SELECT 'raw', 'orders', 'custkey_fk_customer',
    COUNT(*) FILTER (c.c_custkey IS NULL AND o.o_custkey IS NOT NULL), COUNT(*)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'corrupted', 'orders', 'custkey_fk_customer',
    COUNT(*) FILTER (c.c_custkey IS NULL AND o.o_custkey IS NOT NULL), COUNT(*)
  FROM orders_corr o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'raw', 'lineitem', 'orderkey_fk_orders',
    COUNT(*) FILTER (o.o_orderkey IS NULL), COUNT(*)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'raw', 'lineitem', 'qty_range_1_50',
    COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50), COUNT(*) FROM lineitem
  UNION ALL
  SELECT 'corrupted', 'lineitem', 'qty_range_1_50',
    COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50), COUNT(*) FROM lineitem_corr
  UNION ALL
  SELECT 'raw', 'lineitem', 'returnflag_enum',
    COUNT(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R')), COUNT(*) FROM lineitem
  UNION ALL
  SELECT 'corrupted', 'lineitem', 'returnflag_enum',
    COUNT(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R')), COUNT(*) FROM lineitem_corr
  UNION ALL
  SELECT 'raw', 'lineitem', 'discount_range',
    COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1), COUNT(*) FROM lineitem
)
SELECT dataset, table_name, rule,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_checked AS BIGINT) AS n_checked
FROM checks
""",
    tags=("governance", "data-quality", "pipeline"),
    bench=True,
)
def p17_data_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation gate — the validation pass a production
    pipeline runs before promoting a batch: nullability, primary-key
    uniqueness, referential integrity, range and enum rules, each
    reported as (dataset, table, rule, n_violations, n_checked). Run
    twice: over the RAW tables (all zeros — the generator's integrity,
    asserted end to end) and over a deterministically CORRUPTED twin
    (seeded modulo edits break ~1% of keys/values) proving every rule
    actually fires — a gate that has never failed is untested. Shapes,
    per rule class: value rules are conditional aggregates SHARING one
    scan per table (combinable, map-side partials — at 100 TB the whole
    value suite costs one pass per table); PK uniqueness is a
    count-per-key aggregate whose violation and total counts come from
    the SAME groupBy; FK rules are key-only LEFT joins with a
    null-probe count (broadcast for dims; bloom-filter-reducible for
    fact-fact, see tests/test_plan_shapes.py's runtime-filter pin) —
    never a row-fetching subquery per rule."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    o_corr = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 103 == 0, F.lit(None).cast("long"))
        .when(F.col("o_orderkey") % 101 == 0, -1 - F.col("o_custkey"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    li_corr = li.select(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 97 == 0, -F.col("l_quantity"))
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity"),
        F.when(F.col("l_orderkey") % 89 == 0, F.lit("X"))
        .otherwise(F.col("l_returnflag"))
        .alias("l_returnflag"),
        "l_discount",
    )

    def report(dataset: str, table: str, pairs, df: DataFrame) -> DataFrame:
        """One scan: every (rule, violation-predicate) as a conditional
        sum, exploded to long form."""
        aggs = [
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(rule)
            for rule, pred in pairs
        ] + [F.count(F.lit(1)).alias("_n")]
        row = df.agg(*aggs)
        entries = F.array(
            *[
                F.struct(
                    F.lit(rule).alias("rule"),
                    F.col(rule).alias("n_violations"),
                )
                for rule, _ in pairs
            ]
        )
        return row.select(F.inline(entries), F.col("_n")).select(
            F.lit(dataset).alias("dataset"),
            F.lit(table).alias("table_name"),
            "rule",
            "n_violations",
            F.col("_n").alias("n_checked"),
        )

    def fk_report(dataset, table, rule, left, key, right, rkey) -> DataFrame:
        j = left.select(F.col(key)).join(
            right.select(F.col(rkey).alias("_hit")).distinct(),
            F.col(key) == F.col("_hit"),
            "left",
        )
        return j.agg(
            F.sum(
                F.when(F.col("_hit").isNull() & F.col(key).isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        ).select(
            F.lit(dataset).alias("dataset"),
            F.lit(table).alias("table_name"),
            F.lit(rule).alias("rule"),
            "n_violations",
            "n_checked",
        )

    pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_violations"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_checked"),
        )
        .select(
            F.lit("raw").alias("dataset"),
            F.lit("orders").alias("table_name"),
            F.lit("pk_unique").alias("rule"),
            "n_violations",
            "n_checked",
        )
    )

    qty_rule = (
        "qty_range_1_50",
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    flag_rule = ("returnflag_enum", ~F.col("l_returnflag").isin("A", "N", "R"))
    parts = [
        report("raw", "orders", [("custkey_not_null", F.col("o_custkey").isNull())], o),
        report("corrupted", "orders", [("custkey_not_null", F.col("o_custkey").isNull())], o_corr),
        pk,
        fk_report("raw", "orders", "custkey_fk_customer", o, "o_custkey", c, "c_custkey"),
        fk_report("corrupted", "orders", "custkey_fk_customer", o_corr, "o_custkey", c, "c_custkey"),
        fk_report("raw", "lineitem", "orderkey_fk_orders", li, "l_orderkey", o, "o_orderkey"),
        report("raw", "lineitem", [qty_rule, flag_rule, ("discount_range", (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1))], li),
        report("corrupted", "lineitem", [qty_rule, flag_rule], li_corr),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "p18_incremental_view_maintenance",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type AS state_type,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(25, 6))) AS DOUBLE)
         AS total_value
FROM ranked
WHERE rn = 1 AND event_type != 'error'
GROUP BY event_type
""",
    tags=("pipeline", "cdc", "ivm", "incremental"),
    bench=True,
)
def p18_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance with retractions — the
    missing third of the CDC triptych: p15 diffs snapshots, p16/st22
    maintain the keyed STATE, p18 maintains an AGGREGATE over that
    state without recomputing it. The view is `per state_type: how many
    live users, sum of their current values` over the LWW user state
    (operators/stateful.py last_writer_compact — same tiebreak algebra
    as p16/st22). Refresh runs the classic delta-propagation shape
    (Gupta & Mumick's counting algorithm, SIGMOD'93): the stored view
    is the aggregate of the base snapshot; each delta key emits a
    RETRACTION of its old contribution (-1, -old_value, against its OLD
    group) and an INSERTION of its new one (+1, +new_value, into its
    NEW group) — updates that move a user between state_types move the
    counts across groups; tombstones retract without inserting; groups
    whose count telescopes to zero vanish (exact DECIMAL arithmetic
    makes the cancellation exact, so the zero-group filter is
    hash-stable). The oracle recomputes the view from the WHOLE log, so
    every driver run re-certifies the retraction algebra
    (view(base) + changes(delta, base_state) == view(base UNION delta))
    hash-exactly. Scale: refresh cost is O(|delta|) — the only
    non-delta touch is one key-equi-join of delta keys against the base
    state (zero-Exchange from the p13 bucketed layout; the base
    AGGREGATE is group-count-sized and never rescanned) — vs a full
    recompute that rescans 100 TB of history; this is why warehouse MVs
    refresh in minutes, not days. Value determinism: contributions are
    ROUND(value, 6) in exact DECIMAL(25,6), summed in any order, cast
    to DOUBLE once at the end."""
    ev = load_table(spark, sf_dir, "events")
    return _ivm_refresh(ev, _CDC_CUTOFF)


def _ivm_refresh(ev: DataFrame, cutoff_str: str) -> DataFrame:
    """p18's refresh body, cutoff-parameterized: the algebra must hold
    for ANY base/delta split point (tests/test_cdc_split.py sweeps
    several; the registered cutoff is just the driver-checked one).
    The view definition, the retract/insert delta builder, and the
    telescoping merge live in operators/stateful.py — ONE copy shared
    with the streaming fold (st23), whose batch-boundary-independence
    proof depends on both engines maintaining the SAME view."""
    from ..operators.stateful import (
        last_writer_compact as compact,
        merge_view,
        view_delta_changes,
        view_of_state,
    )

    cutoff = F.lit(cutoff_str).cast("timestamp")
    base = compact(ev.filter(F.col("ts") < cutoff))
    delta = compact(ev.filter(F.col("ts") >= cutoff))
    return merge_view(
        view_of_state(base), view_delta_changes(base, delta)
    ).select(
        "state_type",
        "n_users",
        F.col("total_value").cast("double").alias("total_value"),
    )


_Z_BITS = 12
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 6  # keep the top 6 z-bits -> 64 buckets


def _sql_z_value(xexpr: str, yexpr: str) -> str:
    """Flat 24-term bit-interleave of two 12-bit ints, DuckDB dialect."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({xexpr} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yexpr} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _z_value(x, y):
    """Same interleave as _sql_z_value, as a flat Catalyst sum."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


@query(
    "p19_zorder_clustering",
    oracle=f"""
WITH keyed AS (
  SELECT CAST(o_custkey % 4096 AS BIGINT) AS ck,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              % 4096 AS BIGINT) AS dy
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
)
SELECT CAST(z >> {_Z_BUCKET_SHIFT} AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       MIN(dy) AS min_day, MAX(dy) AS max_day
FROM (SELECT ck, dy, {_sql_z_value("ck", "dy")} AS z FROM keyed)
GROUP BY 1
""",
    tags=("pipeline", "layout", "zorder", "data-skipping"),
    bench=True,
)
def p19_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-curve) clustering key for multi-dimensional data
    skipping — the layout primitive behind Delta/Iceberg OPTIMIZE
    ZORDER BY: interleaving the bits of (customer, order-day) gives ONE
    sort key under which every contiguous range is a small axis-aligned
    rectangle in BOTH dimensions, so parquet row-group min/max stats
    prune 2-D predicates (customer range AND date range) that a 1-D
    sort can only prune on its leading column. The interleave is a FLAT
    24-term shift/mask sum (pure codegen, no UDF — same flat-sum
    discipline as pack_sign_bits); the query reports, per top-6-bit
    z-range bucket, the row count and both per-dimension [min, max]
    envelopes — exactly the footer stats a scan planner consults — and
    the oracle recomputes the curve bit-for-bit in SQL.
    tests/test_zorder.py pins the locality claims: every bucket's
    envelope is <= 512 wide in BOTH dims (vs a 2400-day full-range
    envelope for the 1-D customer sort's buckets), and a written
    z-clustered layout lets a 2-D box predicate skip >75% of files on
    footer stats alone. Scale: the z key is a map-side expression;
    clustering 100 TB is one repartitionByRange(z) + sortWithinPartitions
    write (the same shuffle a 1-D sort pays), after which EVERY query
    with selective predicates on either or both dims reads a vanishing
    fraction of footers. Buckets here = z >> 18 (64
    ranges), deterministic — not ntile — so the report is stable under
    any parallelism."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    ck = (F.col("o_custkey") % 4096).cast("long")
    dy = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        % 4096
    ).cast("long")
    keyed = o.select(ck.alias("ck"), dy.alias("dy"))
    z = _z_value(F.col("ck"), F.col("dy"))
    return (
        keyed.select("ck", "dy", z.alias("z"))
        .groupBy(
            F.shiftright(F.col("z"), _Z_BUCKET_SHIFT).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
            F.min("dy").alias("min_day"),
            F.max("dy").alias("max_day"),
        )
    )


@query(
    "d32_dup_graph_pagerank",
    oracle=None,  # iterative power iteration; pinned vs dense numpy in tests/test_pagerank.py
    tags=("dedup", "graph", "iterative", "centrality"),
)
def d32_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup candidate graph
    (operators/graph.py pagerank) — the curation signal the component
    id HIDES: inside one duplicate cluster, the boilerplate/template
    HUB that near-duplicates many other pages scores far above the
    leaves that each only resemble the hub, so 'which document is the
    template' (and 'how much of the corpus is template-derived') reads
    straight off the rank. Components (d08/d21) answer 'what merges';
    this answers 'what dominates'. Per-iteration cost is one edge-list
    join + one sum-by-destination (shuffle ∝ candidate pairs, NOT
    docs^2), dangling docs fold in via a 1-row scalar, and the
    iteration count is fixed — the plan survives any corpus size the
    LSH stage itself survives. Ranks sum to 1 and match a dense numpy
    power iteration to 1e-12 at sf0.001 (tests/test_pagerank.py)."""
    from ..operators.graph import pagerank

    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pr = pagerank(pairs, docs, iterations=5)
    return pr.select("doc_id", F.round("pagerank", 9).alias("pagerank"))


_D32B_ITERS = 5
_D32B_SCALE = 10**12


def _d32b_oracle() -> str:
    """The d32b oracle: pagerank_fixed_point's integer recurrence
    UNROLLED as chained CTEs (r0..r5), one (dangling scalar, contrib
    aggregate, rank update) triple per iteration — generated
    programmatically so the SQL provably mirrors the operator's loop
    step for step (the _s14_oracle pattern applied to power
    iteration). Every value is BIGINT: `//` here and `div` in Spark
    agree on the non-negative ranks, and integer sums are
    order-independent, so the replay is bit-identical."""
    n_sql = "(SELECT n FROM nn)"
    parts = [
        f"""
WITH {_SQL_LSH_CTES.strip()},
cedges AS (
  SELECT DISTINCT GREATEST(id_a, id_b) AS u, LEAST(id_a, id_b) AS v
  FROM lsh_pairs WHERE id_a != id_b
),
sym AS MATERIALIZED (
  SELECT u, v FROM cedges UNION ALL SELECT v AS u, u AS v FROM cedges),
deg AS MATERIALIZED (SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY u),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
r0 AS MATERIALIZED (
  SELECT d.doc_id, g.deg,
         CAST({_D32B_SCALE} // {n_sql} AS BIGINT) AS rank
  FROM documents d LEFT JOIN deg g ON g.doc_id = d.doc_id
)"""
    ]
    for i in range(1, _D32B_ITERS + 1):
        p = i - 1
        parts.append(
            f""",
dang{p} AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dang
            FROM r{p} WHERE deg IS NULL),
c{p} AS (
  SELECT s.v AS doc_id, CAST(SUM(r.rank // r.deg) AS BIGINT) AS contrib
  FROM sym s JOIN r{p} r ON r.doc_id = s.u
  GROUP BY s.v
),
r{i} AS MATERIALIZED (
  SELECT r.doc_id, r.deg,
    CAST((15 * ({_D32B_SCALE} // {n_sql})
          + 85 * (((SELECT dang FROM dang{p}) // {n_sql})
                  + COALESCE(c.contrib, 0))) // 100 AS BIGINT) AS rank
  FROM r{p} r LEFT JOIN c{p} c ON c.doc_id = r.doc_id
)"""
        )
    parts.append(
        f"""
SELECT doc_id, rank AS rank_fp FROM r{_D32B_ITERS}"""
    )
    return "".join(parts)


@query(
    "d32b_pagerank_fixed_point",
    oracle=_d32b_oracle(),
    tags=("dedup", "graph", "iterative", "centrality"),
    bench=True,
)
def d32b_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d32's hub-detection PageRank, oracle-certified HASH-EXACT — the
    r10-verdict seeded-twin recipe (s20b/d34/s05b) extended to the
    engine's one ITERATIVE graph algorithm: pagerank_fixed_point
    (operators/graph.py) runs the identical power iteration over the
    identical d04 LSH candidate graph, but in exact BIGINT fixed-point
    (units of 1e-12) — rank updates are integer multiply / integral
    division / integer sums, so the result is independent of
    partitioning and summation order, and the DuckDB oracle replays
    the recurrence as 5 unrolled CTE rounds to bit-identical values.
    d32 (float, numpy-pinned to 1e-12) remains the production entry;
    this row value-certifies the DATAFLOW — edge canonicalization,
    degree computation, dangling-mass fold, per-round join + sum-by-
    destination, fixed iteration count — end to end against a second
    engine, closing the 'iterative algorithms are inherently
    rows-only' gap.

    Scale shape identical to d32: per round one equi-join of the
    symmetrized edge list against (node, share) plus one hash
    aggregate (shuffle ∝ E, never docs^2); the dangling scalar is a
    1-row collect folded into a literal; lineage cut per round with
    localCheckpoint. The fixed-point trick costs nothing at scale —
    same plan, integer columns instead of doubles."""
    from ..operators.graph import pagerank_fixed_point

    pairs = d04_minhash_lsh_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pagerank_fixed_point(
        pairs, docs, iterations=_D32B_ITERS, scale=_D32B_SCALE
    )


_S24_WIDTHS = (10, 20, 40, 80)
_S24_K = 5


@query(
    "s24_hamming_width_advisor",
    oracle=f"""
WITH bits AS (
  SELECT vec_id, embedding,
    {_SQL_SIGN_BITS.format(lo=1, hi=32).strip()} AS b0,
    {_SQL_SIGN_BITS.format(lo=33, hi=64).strip()} AS b1
  FROM embeddings
  WHERE embedding IS NOT NULL
),
ranked AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])), 6) DESC,
               c.vec_id) AS erank,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)),
               c.vec_id) AS hrank
  FROM (SELECT * FROM bits WHERE vec_id % 50 = 0) q
  JOIN (SELECT * FROM bits WHERE vec_id % 50 != 0) c ON true
)
SELECT CAST(w.width AS BIGINT) AS width,
       ROUND(CAST(SUM(CASE WHEN hrank <= w.width THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS recall
FROM (SELECT * FROM ranked WHERE erank <= {_S24_K}) t
CROSS JOIN (VALUES (10), (20), (40), (80)) AS w(width)
GROUP BY w.width
""",
    tags=("similarity", "ann", "quantization", "governance", "quality-audit"),
)
def s24_hamming_width_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN CONFIGURATION ADVISOR for the binary-quantized path — d28's
    corpus-grounded-tuning pattern transplanted to embedding space:
    before anyone trusts s23's 40-wide shortlist, measure ON THIS
    CORPUS what recall@5 each candidate width actually buys. For every
    query, the exact cosine top-5 (the ground truth — the same
    brute-force audit shape as d24's LSH recall audit) is joined with
    each true neighbor's HAMMING rank; recall at width w is then just
    'what fraction of true neighbors rank <= w', evaluated for all
    widths from ONE ranked pair table (widths fan out over a 4-row
    literal, not a re-scan per width). Every stage is relational, so
    the advisor's recall numbers are themselves oracle-certified
    hash-exact — the driver re-verifies the measurement, not only the
    mechanism. Both rankings share one pair pass; integer counts make
    the recall ratio exactly reproducible across engines. Scale: this
    is an AUDIT (run on a query sample, like d24), not the serving
    path — cost is queries x corpus with the same WindowGroupLimit
    discipline, and the output is the (width, recall) curve a pipeline
    owner reads before setting the production shortlist."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    em = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _sign_bits_split(em)

    qb = F.broadcast(
        queries.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("b0").alias("q0"),
            F.col("b1").alias("q1"),
        )
    )
    sim = F.round(cosine_similarity(F.col("embedding"), F.col("q_vec")), 6)
    ham = F.bit_count(F.col("b0").bitwiseXOR(F.col("q0"))) + F.bit_count(
        F.col("b1").bitwiseXOR(F.col("q1"))
    )
    we = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    wh = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    ranked = (
        corpus.join(qb, F.lit(True))
        .select("q_id", "vec_id", sim.alias("sim"), ham.alias("hamming"))
        .select(
            "q_id",
            "vec_id",
            F.row_number().over(we).alias("erank"),
            F.row_number().over(wh).alias("hrank"),
        )
    )
    widths = F.array(*[F.lit(w) for w in _S24_WIDTHS])
    return (
        ranked.filter(F.col("erank") <= _S24_K)
        .select("hrank", F.explode(widths).alias("width"))
        .groupBy(F.col("width").cast("long").alias("width"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("hrank") <= F.col("width"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall")
        )
    )


# ---------------------------------------------------------------------------
# p20: small-file compaction planner
# ---------------------------------------------------------------------------

_P20_SMALL = 400  # files below this size are compaction candidates
_P20_TARGET = 2000  # target compacted-bin size
# Pass-through files live in the NEGATIVE bin-id namespace (-(doc_id+1)):
# compact bins are running-sum quotients and therefore always >= 0, so
# the two namespaces are disjoint at ANY cumulative listing size — a
# positive offset base would collide once a source's small-file chars
# exceeded base * target.


@query(
    "p20_compaction_planner",
    oracle=f"""
WITH binned AS (
  SELECT source, doc_id, n_chars,
    CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {_P20_TARGET}) AS BIGINT) AS bin_id
  FROM documents WHERE n_chars < {_P20_SMALL}
)
SELECT source, 'compact' AS action, bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_files,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM binned GROUP BY source, bin_id
UNION ALL
SELECT source, 'keep' AS action,
  CAST(-(doc_id + 1) AS BIGINT) AS bin_id,
  CAST(1 AS BIGINT) AS n_files,
  CAST(n_chars AS BIGINT) AS total_chars,
  doc_id AS min_doc, doc_id AS max_doc
FROM documents WHERE n_chars >= {_P20_SMALL}
""",
    tags=("pipeline", "compaction", "maintenance"),
    bench=True,
)
def p20_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION PLANNER — the manifest an OPTIMIZE /
    bin-packing table-maintenance job executes: within each partition
    (source), files below the small-file threshold are packed in id
    order into target-sized rewrite bins (bin = exclusive-running-sum
    div target — first-fit-in-order, so each bin is a CONTIGUOUS id
    range and a rewrite task reads sequentially); files already at
    least threshold-sized pass through as singleton 'keep' rows in the
    negative bin-id namespace (compact bins are running-sum quotients,
    always >= 0, so disjointness holds at ANY listing size), and the
    output covers every file —
    it IS the rewrite plan. Completes the table-maintenance family:
    p19 chooses the clustering key, this plans the file rewrite,
    p11/p14 lay out and backfill partitions.

    Scale shape: the input is a file LISTING (one row per file —
    ~800k rows for 100 TB of 128 MB files, metadata-sized), not data;
    the only shuffle is the hash partition on `source` for the window,
    and the per-partition packing is inherently sequential-in-order (a
    linear scan of the partition's listing). Every value is an exact
    integer — no float in the plan beyond the bin division, which is
    exact for any cumulative size below 2^53."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    csum = F.coalesce(F.sum("n_chars").over(w), F.lit(0).cast("bigint"))
    compact = (
        docs.filter(F.col("n_chars") < _P20_SMALL)
        .withColumn("bin_id", F.floor(csum / _P20_TARGET))
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            "source",
            F.lit("compact").alias("action"),
            "bin_id",
            "n_files",
            "total_chars",
            "min_doc",
            "max_doc",
        )
    )
    keep = docs.filter(F.col("n_chars") >= _P20_SMALL).select(
        "source",
        F.lit("keep").alias("action"),
        (-(F.col("doc_id") + F.lit(1))).cast("bigint").alias("bin_id"),
        F.lit(1).cast("bigint").alias("n_files"),
        F.col("n_chars").cast("bigint").alias("total_chars"),
        F.col("doc_id").alias("min_doc"),
        F.col("doc_id").alias("max_doc"),
    )
    return compact.unionByName(keep)


# ---------------------------------------------------------------------------
# p21: k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_P21_K = 5  # anonymity threshold
_P21_BUCKET = 100  # n_chars generalization width


@query(
    "p21_k_anonymity_audit",
    oracle=f"""
SELECT lang, source,
  CAST(FLOOR(n_chars / {_P21_BUCKET}) AS BIGINT) AS chars_bucket,
  CAST(COUNT(*) AS BIGINT) AS class_size,
  COUNT(*) >= {_P21_K} AS k_anonymous,
  ROUND(1.0 / COUNT(*), 6) AS reid_risk
FROM documents
GROUP BY lang, source, FLOOR(n_chars / {_P21_BUCKET})
""",
    tags=("pipeline", "governance", "privacy"),
    bench=True,
)
def p21_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT (Sweeney 2002): group the corpus by its
    quasi-identifier tuple — the released attributes that jointly
    re-identify (here lang x source x generalized length bucket) — and
    flag every equivalence class smaller than k, with the worst-case
    re-identification risk 1/|class|. The privacy-governance pass a
    training-data platform runs before releasing corpus metadata or
    per-document statistics: sub-k classes are the rows a release
    must suppress or generalize further. Complements t07 (PII
    redaction removes direct identifiers; this audits the INDIRECT
    ones redaction can't touch) and p17's quality gate with the
    privacy gate of the same shape.

    Scale shape: ONE map-side-combinable groupBy — the shuffle carries
    only distinct quasi-identifier tuples (bounded by the identifier
    domain, not the corpus); the flag and risk are projections over
    the group counts. At 100 TB this is a single aggregate pass, and
    the audit report is identifier-domain-sized."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / _P21_BUCKET)
            .cast("bigint")
            .alias("chars_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "lang",
            "source",
            "chars_bucket",
            "class_size",
            (F.col("class_size") >= _P21_K).alias("k_anonymous"),
            F.round(1.0 / F.col("class_size"), 6).alias("reid_risk"),
        )
    )


@query(
    "p22_column_statistics",
    oracle="""
WITH stats AS (
  SELECT
    COUNT(*) AS n_rows,
    COUNT(*) FILTER (l_extendedprice IS NULL) AS nulls_extendedprice,
    COUNT(DISTINCT l_returnflag) AS ndv_returnflag,
    COUNT(DISTINCT l_linestatus) AS ndv_linestatus,
    COUNT(DISTINCT l_quantity) AS ndv_quantity,
    ROUND(MIN(l_extendedprice), 6) AS min_extendedprice,
    ROUND(MAX(l_extendedprice), 6) AS max_extendedprice,
    MIN(l_shipdate) AS min_shipdate,
    MAX(l_shipdate) AS max_shipdate,
    ROUND(AVG(l_tax), 6) AS avg_tax
  FROM lineitem
)
SELECT * FROM stats
""",
    tags=("pipeline", "statistics", "governance"),
    bench=True,
)
def p22_column_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE column statistics in one pass: row count, per-column
    null counts, exact NDV for the low-cardinality columns, min/max
    range stats, and mean string length — the statistics a cost-based
    optimizer (and every data catalog) keeps per table, computed as ONE
    declarative aggregate instead of a stats-collection subsystem.

    Scale shape: multiple COUNT(DISTINCT) in one aggregate plan via
    Catalyst's Expand (each input row fans to one row per distinct-
    aggregate; partial aggregation collapses them map-side before the
    exchange, so the shuffle carries distinct values per column, not
    rows x columns). Exact NDV is the right call for the enum-ish
    columns profiled here (flags, modes, 1-50 quantities — bounded
    domains); wide-domain columns at 100 TB profile through
    approx_count_distinct/HLL instead (the q13b/q69 surface — one scan,
    no Expand, mergeable across partitions), which is exactly the
    split ANALYZE implementations make. Everything else (nulls, ranges,
    averages) is a plain combinable aggregate riding the same scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_extendedprice").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("nulls_extendedprice"),
        F.countDistinct("l_returnflag").alias("ndv_returnflag"),
        F.countDistinct("l_linestatus").alias("ndv_linestatus"),
        F.countDistinct("l_quantity").alias("ndv_quantity"),
        F.round(F.min("l_extendedprice"), 6).alias("min_extendedprice"),
        F.round(F.max("l_extendedprice"), 6).alias("max_extendedprice"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
        F.round(F.avg("l_tax"), 6).alias("avg_tax"),
    )


_S29_PREFIX = 16  # coarse dims: the leading prefix of the stored vector
_S29_COARSE = 40
_S29_TOPK = 5
_S29_QMOD = 50  # the s22/s23 query universe


@query(
    "s29_matryoshka_prefix_ann",
    oracle=f"""
WITH valid AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_S20B_DIM}
),
coarse AS MATERIALIZED (
  SELECT q_id, vec_id, coarse_dist FROM (
    SELECT q.vec_id AS q_id, c.vec_id,
      {_s20b_sql_l2(_S29_PREFIX, "i", "q.emb[i]", "c.emb[i]")} AS coarse_dist,
      ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_s20b_sql_l2(_S29_PREFIX, "i", "q.emb[i]", "c.emb[i]")},
                 c.vec_id) AS crank
    FROM valid c, valid q
    WHERE c.vec_id % {_S29_QMOD} != 0 AND q.vec_id % {_S29_QMOD} = 0
  ) WHERE crank <= {_S29_COARSE}
)
SELECT q_id, vec_id, coarse_dist, exact_dist, rank FROM (
  SELECT s.q_id, s.vec_id, s.coarse_dist,
    {_s20b_sql_l2(_S20B_DIM, "i", "q.emb[i]", "v.emb[i]")} AS exact_dist,
    ROW_NUMBER() OVER (
      PARTITION BY s.q_id
      ORDER BY {_s20b_sql_l2(_S20B_DIM, "i", "q.emb[i]", "v.emb[i]")},
               s.vec_id) AS rank
  FROM coarse s
  JOIN valid v ON v.vec_id = s.vec_id
  JOIN valid q ON q.vec_id = s.q_id
) WHERE rank <= {_S29_TOPK}
""",
    tags=("similarity", "ann", "rerank", "matryoshka"),
    bench=True,
)
def s29_matryoshka_prefix_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-TRUNCATION ANN serving (the Matryoshka/MRL read path:
    arXiv:2205.13147; OpenAI text-embedding-3's ``dimensions`` knob),
    oracle-certified HASH-EXACT: the coarse pass ranks by squared L2
    over ONLY THE LEADING {_S29_PREFIX} of {_S20B_DIM} stored
    dimensions — no transform, no trained artifact, the prefix IS the
    compressed representation — then the {_S29_COARSE}-wide shortlist
    re-ranks by exact full-dimension distance and keeps {_S29_TOPK}.
    This is the one coarse representation the similarity stack lacked:
    cheaper than projection (s22/s22b spend k dot folds per row; the
    prefix is FREE — a slice of the stored vector, and with columnar
    layouts the scan can skip the tail bytes entirely), trained-free
    unlike PCA/PQ/IVF, and exactly what MRL-trained embedding models
    are served with in production. Honesty note (same as s22's): the
    synthetic test embeddings are isotropic, so no prefix is
    privileged and coarse recall here matches a random 16-dim slice;
    with real MRL-trained vectors the leading dims carry the nested
    representation and this plan is the intended serving shape. Both
    distances are ROUND(d, 6) fixed-order folds, both rank cuts break
    ties by id — DuckDB replays the identical pruned search
    value-for-value.

    Scale shape: the coarse pass scans only (vec_id, 16-dim slice)
    against the broadcast query prefixes and cuts via two-phase
    WindowGroupLimit (<= {_S29_COARSE} rows per query per map task
    reach the exchange); the re-rank joins raw vectors back by
    BROADCAST id join; the corpus never shuffles and full vectors
    never leave their scan partition."""
    from pyspark.sql import Window

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
    valid = em.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == _S20B_DIM)
    ).select("vec_id", "embedding")
    corpus = valid.filter(F.col("vec_id") % _S29_QMOD != 0)
    queries = valid.filter(F.col("vec_id") % _S29_QMOD == 0)

    # -- coarse: L2 over the stored vector's leading prefix ------------
    prefix = F.slice(F.col("embedding"), 1, _S29_PREFIX)
    cp = corpus.select("vec_id", prefix.alias("pfx"))
    qp = queries.select(
        F.col("vec_id").alias("q_id"), prefix.alias("q_pfx")
    )
    coarse_d = F.round(sq_l2(F.col("pfx"), F.col("q_pfx")), 6)
    wc = Window.partitionBy("q_id").orderBy("coarse_dist", "vec_id")
    shortlist = (
        cp.crossJoin(F.broadcast(qp))
        .select("q_id", "vec_id", coarse_d.alias("coarse_dist"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _S29_COARSE)
        .select("q_id", "vec_id", "coarse_dist")
    )

    # -- exact full-dimension re-rank on the broadcast shortlist -------
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = F.round(sq_l2(F.col("embedding"), F.col("q_vec")), 6)
    wr = Window.partitionBy("q_id").orderBy("exact_dist", "vec_id")
    return (
        corpus.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", "coarse_dist", exact.alias("exact_dist"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S29_TOPK)
    )


# -- s30: graph-based ANN (the HNSW-family serving shape) ---------------
#
# The reference's one configured index type is hnsw
# (KDS-P/index-creation-function/lambda_function.py:72-80: hnsw,
# ef_construction 128, m 24) — the single ANN family the engine served
# with every coarse pass EXCEPT a graph walk. s30 closes it: a greedy
# beam search over a banded-LSH k-NN graph, the flat (single-layer)
# analogue of HNSW's search layer, with every stage relational and
# deterministic so the whole walk is oracle-certified hash-exact.
_S30_KG = 3  # out-edges per node per band (graph degree ~ 4*3*2 sym)
_S30_BANDS = 4  # 2-plane bands derived from the 8-plane s08 bucket
_S30_ENTRY = 8  # md5-seeded global entry points (HNSW's fixed entry)
_S30_BEAM = 16  # frontier kept per hop (HNSW's ef)
_S30_HOPS = 5  # FIXED unrolled hops — the d32b iterative recipe
_S30_SHORT = _S23_COARSE  # re-rank width: equal-width comparable to s23
_S30_K = _S23_K
# _banded_topk cell guard (r14 verdict #2): one (band, bkey) cell is one
# task, and the kernel's dominant allocation is the |new| x |cell|
# float64 similarity block. Cells past this element budget switch to
# row-chunked accumulation — identical keep sets and bit-identical sims
# (each row still sees its full candidate column set within its chunk),
# peak kernel memory bounded at ~a few blocks x 8 B x this budget
# regardless of how hot a band gets. 2^24 doubles = 128 MiB per block.
_S30_CELL_BLOCK_ELEMS = 1 << 24
# _graph_beam_serve driver guard (r14 verdict #3): the serve path
# collects the corpus bit table (3 longs/row) and the edge list
# (<= nodes * 2 sym * _S30_BANDS * _S30_KG ints) to the driver and ships
# them in ONE broadcast — the same memory class the per-hop join
# formulation broadcast five times. The ceiling must FAIL LOUDLY before
# the collect instead of OOMing the driver: 4M nodes ~= 100 MB of bit
# rows + ~1 GB of edge rows pre-dedup at degree 24 — comfortably inside
# the 16 GiB bench driver; a corpus past it needs graph partitioning,
# which is out of scope for either formulation (see the docstring).
_S30_MAX_GRAPH_NODES = 4_000_000


def _s30_oracle() -> str:
    """The s30 oracle: the banded k-NN graph build plus the beam walk
    UNROLLED as chained CTEs (v0..v5), one (beam cut, edge expand,
    distance fold + distinct union) triple per hop — generated
    programmatically so the SQL provably mirrors the operator's loop
    step for step (the _d32b_oracle pattern applied to graph search).
    Walk distances are integer Hamming (bit_count of XOR on the packed
    sign words — order-free), graph/rerank similarities are the proven
    ROUND(cosine, 6) fixed-order folds; every rank breaks ties by id.
    All multiply-referenced CTEs are MATERIALIZED (DuckDB re-inlines
    per reference otherwise and the unrolled chain goes exponential)."""
    from .llmops import _SQL_HYPERPLANE_BUCKETS

    band_keys = " OR ".join(
        f"((a.bucket >> {2 * j}) & 3) = ((b.bucket >> {2 * j}) & 3)"
        for j in range(_S30_BANDS)
    )
    band_vals = ", ".join(f"({j})" for j in range(_S30_BANDS))
    parts = [
        f"""
WITH {_SQL_HYPERPLANE_BUCKETS.strip()},
bits AS MATERIALIZED (
  SELECT vec_id, embedding,
    {_SQL_SIGN_BITS.format(lo=1, hi=32).strip()} AS b0,
    {_SQL_SIGN_BITS.format(lo=33, hi=64).strip()} AS b1
  FROM embeddings WHERE embedding IS NOT NULL
),
qs AS MATERIALIZED (SELECT * FROM bits WHERE vec_id % 50 = 0),
cs AS MATERIALIZED (SELECT * FROM bits WHERE vec_id % 50 != 0),
gsides AS MATERIALIZED (
  SELECT c.vec_id, hb.bucket, CAST(c.embedding AS DOUBLE[]) AS v,
    sqrt(list_reduce(list_prepend(0.0,
           list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x)),
         (acc, x) -> acc + x)) AS nrm
  FROM cs c JOIN hp_buckets hb ON c.vec_id = hb.vec_id
),
gdir AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id, band.j
        ORDER BY ROUND(list_reduce(list_prepend(0.0,
            list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])),
          (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) DESC, b.vec_id) AS rnk
    FROM (VALUES {band_vals}) AS band(j)
    CROSS JOIN gsides a
    JOIN gsides b
      ON ((a.bucket >> (2*band.j)) & 3) = ((b.bucket >> (2*band.j)) & 3)
     AND a.vec_id != b.vec_id
    WHERE a.nrm * b.nrm != 0
  ) WHERE rnk <= {_S30_KG}
),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM gdir UNION ALL SELECT dst AS src, src AS dst FROM gdir)
),
entry AS (SELECT vec_id FROM cs
  ORDER BY md5('s30e:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {_S30_ENTRY}),
v0 AS MATERIALIZED (
  SELECT q.vec_id AS q_id, c.vec_id,
    CAST(bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)) AS BIGINT) AS hamming
  FROM qs q JOIN cs c ON c.vec_id IN (SELECT vec_id FROM entry))"""
    ]
    for i in range(_S30_HOPS):
        parts.append(
            f""",
beam{i} AS (SELECT q_id, vec_id FROM (
  SELECT q_id, vec_id, ROW_NUMBER() OVER (
    PARTITION BY q_id ORDER BY hamming, vec_id) AS r
  FROM v{i}) WHERE r <= {_S30_BEAM}),
n{i} AS (SELECT DISTINCT b.q_id, e.dst AS vec_id
         FROM beam{i} b JOIN edges e ON e.src = b.vec_id),
v{i + 1} AS MATERIALIZED (
  SELECT DISTINCT q_id, vec_id, hamming FROM (
    SELECT q_id, vec_id, hamming FROM v{i}
    UNION ALL
    SELECT n.q_id, n.vec_id,
      CAST(bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1)) AS BIGINT)
    FROM n{i} n JOIN qs q ON q.vec_id = n.q_id JOIN cs c ON c.vec_id = n.vec_id))"""
        )
    parts.append(
        f"""
SELECT q_id, vec_id, hamming, sim, rank FROM (
  SELECT s.q_id, s.vec_id, s.hamming,
    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                 CAST(q.embedding AS DOUBLE[])), 6) AS sim,
    ROW_NUMBER() OVER (PARTITION BY s.q_id
      ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])), 6) DESC,
               s.vec_id) AS rank
  FROM (SELECT q_id, vec_id, hamming FROM (
          SELECT q_id, vec_id, hamming,
            ROW_NUMBER() OVER (
              PARTITION BY q_id ORDER BY hamming, vec_id) AS cr
          FROM v{_S30_HOPS}) WHERE cr <= {_S30_SHORT}) s
  JOIN cs c ON c.vec_id = s.vec_id
  JOIN qs q ON q.vec_id = s.q_id
) WHERE rank <= {_S30_K}"""
    )
    assert band_keys  # bands participate via the join predicate above
    return "".join(parts)


@query(
    "s30_graph_beam_ann",
    oracle=_s30_oracle(),
    tags=("similarity", "ann", "graph", "hnsw", "rerank"),
    bench=True,
)
def s30_graph_beam_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-BASED ANN serving — the HNSW-family search shape (the one
    index type the reference actually configures:
    KDS-P/index-creation-function/lambda_function.py:72-80, hnsw with
    ef_construction 128 / m 24), re-expressed as a fixed-depth beam
    search in pure DataFrame ops and oracle-certified HASH-EXACT.

    Index build (the amortized part — at scale it persists like s05's
    IVF cells): a navigable k-NN graph from the s08/s15 machinery,
    DENSIFIED by banding — the 8-plane bucket code splits into
    four 2-plane bands (``(bucket >> 2j) & 3``, derived from
    ONE bucket computation), each node keeps its top-3 in-band
    neighbors by exact cosine per band, edges union across bands and
    symmetrize. Single-band cliques are disconnected (the s15 graph's
    65 singleton buckets on this corpus cannot be walked); band
    diversity is what makes the graph navigable — the same reason
    HNSW's long-range layer edges exist, earned here from the d04
    banded-LSH recipe instead of level sampling.

    Serving walk (the HNSW search-layer loop, ef=16): from
    8 md5-seeded entry points (the fixed-entry convention of
    s12/d31), 5 hops — each hop cuts the frontier to the beam (top-16
    visited by integer Hamming distance on the packed sign words, the
    d32b integer-fold discipline), expands the beam's neighbor lists,
    folds new candidates into the visited set. The visited set's best
    40 then pay the exact cosine re-rank, keep 5 — byte-identical tail
    to s23, so the two coarse passes compare at equal shortlist width.
    Measured recall@5 at width 40: comparable to s23's GLOBAL Hamming
    cut on both fixtures (0.78 vs 0.76 at sf0.01, 0.70 vs 0.76 at
    sf0.001) while examining only ~54% of the corpus — graph-guided
    candidates (cosine-built edges) buy back most of what the partial
    view costs (floor pinned in tests/test_binary_ann.py; the visited
    fraction falls with corpus size — see below).

    Scale shape: the serving walk never shuffles the corpus — the edge
    table (O(n*degree) ints) and bit table ride ONE broadcast into a
    per-query integer beam loop (mapInPandas over the query table; see
    _graph_beam_serve for why the loop is per-query rather than five
    cluster-wide hop jobs), so per-query work is bounded by
    beam*degree*hops regardless of corpus size — the defining property
    of graph ANN vs scan-based coarse passes. On a 1000-executor
    cluster the graph build is the heavy amortized job (banded
    self-joins, the certified d04 shape); serving is pennies per query
    batch. The walk is integer end to end and the re-rank stays
    relational, so the DuckDB oracle replays build + walk
    value-for-value (_s30_oracle, unrolled MATERIALIZED CTEs)."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity, dot, l2_norm
    from .llmops import _hyperplane_bucket_col

    em = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _sign_bits_split(em)

    # ---- index build: banded-LSH k-NN graph over the corpus ---------
    sides = corpus.select(
        "vec_id",
        _hyperplane_bucket_col().alias("bucket"),
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    wj = Window.partitionBy("band", "src").orderBy(F.desc("sim"), "dst")
    gdir = (
        _banded_topk(sides)
        .withColumn("rnk", F.row_number().over(wj))
        .filter(F.col("rnk") <= _S30_KG)
        .select("src", "dst")
        .distinct()
    )
    edges = (
        gdir.unionByName(
            gdir.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # the index is BUILT ONCE and walked five times — without the
        # lineage cut every hop's broadcast re-runs the banded
        # self-joins (the d32b per-round localCheckpoint discipline)
        .localCheckpoint()
    )

    return _graph_beam_serve(queries, corpus, edges)


def _banded_pairs(
    a_side: DataFrame, b_side: DataFrame, b_flag: str | None = None
) -> DataFrame:
    """All in-band candidate pairs ``(band, src, dst, sim)`` between
    ``a_side`` and ``b_side`` rows (each needs vec_id, bucket,
    embedding, nrm): every row explodes over the four 2-plane
    bands of its s08 bucket code, and ONE equi-join on the derived
    (band, band-key) pair generates all bands' candidates in a single
    exchange — the restructure of one-join-per-band that cut s30's
    build from 4 shuffles + 4 rank windows to 1 + 1. Shared by s30
    (corpus self-pairs) and st39 (new-arrivals x indexed-so-far).

    Each unordered pair's cosine is computed ONCE and mirrored into
    both directions by a 2-struct explode — cosine is exactly
    symmetric (IEEE multiply commutes term-for-term and the fold order
    over elements is unchanged, so dot(a,b) == dot(b,a) to the bit and
    nrm_a*nrm_b == nrm_b*nrm_a likewise), so the mirrored row carries
    the identical ``sim`` the swapped join row would have computed.
    The join therefore keeps only ``a.vec_id < b.vec_id`` for pairs
    whose both endpoints can appear on the a side, which HALVES the
    per-pair similarity folds — the dominant cost of the build
    (millions of pairs at sf0.1; same-box A/B medians for s30:
    both-directions fold 13.1 s, both-directions Arrow kernel 16.8 s,
    64-term statically-unrolled expression 37.0 s — the unroll blows
    the JIT method budget and the kernel pays the Arrow boundary for
    every pair's two embeddings, so the halved fold wins).

    ``b_flag`` optionally names a boolean column on ``b_side`` marking
    rows that can NEVER appear on the a side (st39's settled
    prior-batch nodes): those pairs surface only as (a, flagged-b), so
    they are kept regardless of id order — the mirror still emits the
    (flagged-b, a) direction the caller's neighbor lists need."""
    from ..functions.vector import dot

    bkey = None
    for j in range(_S30_BANDS):
        val = F.shiftright(F.col("bucket"), 2 * j)
        bkey = (
            F.when(F.col("band") == j, val)
            if bkey is None
            else bkey.when(F.col("band") == j, val)
        )
    bkey = bkey.otherwise(F.lit(0)).bitwiseAND(F.lit(3))

    def with_band(df: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
        return (
            df.select("vec_id", "bucket", "embedding", "nrm", *extra)
            .withColumn(
                "band",
                F.explode(
                    F.array(*[F.lit(j) for j in range(_S30_BANDS)])
                ),
            )
            .withColumn("bkey", bkey)
        )

    # the probe side inherits the parquet scan's partition count (often
    # 1-2 files) and every downstream dot fold runs on that many tasks;
    # the build side broadcasts, so the probe side is free to spread —
    # without this the ~|pairs| similarity folds serialize onto two
    # cores. The partition count must be EXPLICIT: the exploded rows
    # are only ~KBs, so AQE would coalesce a bare repartition back to
    # one partition — it cannot know each row fans out bucket-width
    # pairs of interpreted 64-element folds downstream.
    nparts = 2 * a_side.sparkSession.sparkContext.defaultParallelism
    a = with_band(a_side).repartition(nparts, F.col("vec_id")).alias("a")
    b = with_band(b_side, (b_flag,) if b_flag else ()).alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    keep = F.col("a.vec_id") < F.col("b.vec_id")
    if b_flag:
        keep = keep | F.col(f"b.{b_flag}")
    half = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & keep,
        )
        .filter(denom != 0.0)
        .select(
            F.col("a.band").alias("band"),
            F.col("a.vec_id").alias("u"),
            F.col("b.vec_id").alias("v"),
            F.round(
                dot(F.col("a.embedding"), F.col("b.embedding")) / denom, 6
            ).alias("sim"),
        )
    )
    return half.select(
        "band",
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e"),
        "sim",
    ).select("band", "e.src", "e.dst", "sim")


def _banded_topk(
    nodes: DataFrame, settled_col: str | None = None, k: int = _S30_KG
) -> DataFrame:
    """The candidate set the s30/st39 graph build actually consumes —
    per (band, src) a SUPERSET of the top-``k`` in-band neighbors by
    (ROUND(cosine, 6) DESC, dst) — computed by a per-cell vectorized
    kernel instead of _banded_pairs' pair-at-a-time join. Guide §4.2:
    the join's per-pair interpreted 64-element fold was ~85% of the
    build; here each (band, band-key) cell crosses the Python boundary
    ONCE (|cell| embeddings, not |cell|^2 pair copies — the mistake the
    reverted Arrow pair-kernel made) and the cell's pair dots come out
    of 64 vectorized rank-1 updates.

    Bit-equality with the fold (the oracle's arbiter): the kernel
    accumulates ``R += M[:, d] x M[:, d]`` in element order d = 0..63
    starting from 0.0, so every R[i, j] performs the identical IEEE
    multiply-add sequence as ``functions.vector.dot``'s left fold
    (float32 inputs cast exactly to float64; numpy elementwise ops are
    plain IEEE doubles, no FMA/reassociation), and ``sim_raw =
    R / (nrm_i * nrm_j)`` is the same two ops the join computed. The
    6-dp ROUND stays in Spark on the returned doubles, so the published
    value is produced by the exact expression the oracle was proven
    against.

    The top-k cut uses a RAW-sim margin, never a Python-side rounding:
    per src the kth-largest raw sim r_k is found and everything with
    ``raw >= r_k - 2e-6`` is kept. ROUND is monotone and its grid step
    is 1e-6, so any candidate excluded by the margin rounds strictly
    below ROUND(r_k) <= the kth ROUNDED value — it can never enter the
    consumer's top-k window under (sim DESC, dst) whatever the
    tiebreaks — while every rounding-tie candidate survives for the
    window to break by dst. The callers' rank windows are unchanged;
    they just run over ~nodes x bands x k rows instead of every pair.

    ``settled_col`` names st39's prior-batch marker: settled rows pair
    only with unsettled (new) rows — both directions still emitted, the
    settled side's sims read from the transposed block bit-exactly
    (IEEE multiply commutes term-for-term, fold order unchanged).

    Scale note: one cell = one task, like one LSH bucket in d04 — the
    banding is expected to keep cells task-sized (the bucket-cap
    discipline), and the kernel no longer ASSUMES it: a cell whose
    |new| x |cell| block would exceed _S30_CELL_BLOCK_ELEMS doubles
    accumulates in row chunks (identical keep sets — every row still
    sees its full candidate column set — and bit-identical sims; the
    settled direction recomputes its blocks from the same element-order
    rank-1 updates, exact because IEEE multiply commutes term-for-term
    when rows and columns swap roles), so a pathologically hot band
    costs time, never an executor OOM. _banded_pairs remains the
    reference semantics."""
    bkey = None
    for j in range(_S30_BANDS):
        val = F.shiftright(F.col("bucket"), 2 * j)
        bkey = (
            F.when(F.col("band") == j, val)
            if bkey is None
            else bkey.when(F.col("band") == j, val)
        )
    bkey = bkey.otherwise(F.lit(0)).bitwiseAND(F.lit(3))

    new_flag = (
        F.lit(True) if settled_col is None else ~F.col(settled_col)
    )
    banded = (
        nodes.select(
            "vec_id",
            "bucket",
            "embedding",
            "nrm",
            new_flag.alias("new"),
        )
        .withColumn(
            "band",
            F.explode(F.array(*[F.lit(j) for j in range(_S30_BANDS)])),
        )
        .withColumn("bkey", bkey)
    )

    # captured by VALUE at build time so the kernel closure ships the
    # bound to executors (a worker-side module re-import would not see
    # a driver-side monkeypatch — and the tests rely on patching it)
    max_elems = _S30_CELL_BLOCK_ELEMS

    def cell_topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "band": pd.Series(dtype="int32"),
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "sim_raw": pd.Series(dtype="float64"),
            }
        )
        ids = pdf["vec_id"].to_numpy()
        nrm = pdf["nrm"].to_numpy()
        new = pdf["new"].to_numpy()
        band = int(pdf["band"].iloc[0])
        valid = nrm != 0.0
        nidx = np.flatnonzero(new & valid)
        if nidx.size == 0 or len(ids) < 2:
            return empty
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)

        def margin_rows(block, row_ids, col_ids, fin):
            if block.shape[1] > k:
                kth = -np.partition(-block, k - 1, axis=1)[:, k - 1]
                keep = fin & (block >= (kth - 2e-6)[:, None])
            else:
                keep = fin
            ii, jj = np.nonzero(keep)
            return pd.DataFrame(
                {
                    "band": np.full(ii.size, band, dtype="int32"),
                    "src": row_ids[ii],
                    "dst": col_ids[jj],
                    "sim_raw": block[ii, jj],
                }
            )

        sidx = np.flatnonzero(~new & valid)
        if nidx.size * len(ids) <= max_elems:
            # fast path (every well-banded cell): one block, the
            # settled direction read from its transpose for free.
            # element-order rank-1 accumulation == the dot fold,
            # bit-exact
            R = np.zeros((nidx.size, len(ids)))
            Mn = M[nidx]
            for d in range(M.shape[1]):
                R += Mn[:, d : d + 1] * M[:, d]
            sims = R / (nrm[nidx][:, None] * nrm[None, :])
            finite = np.broadcast_to(valid, sims.shape).copy()
            finite[np.arange(nidx.size), nidx] = False  # self-pairs
            neg = np.where(finite, sims, -np.inf)
            out = [margin_rows(neg, ids[nidx], ids, finite)]
            if sidx.size:
                # settled srcs: candidates are exactly the new
                # arrivals — the transposed block holds their
                # bit-identical sims
                blockT = neg[:, sidx].T
                out.append(
                    margin_rows(
                        blockT, ids[sidx], ids[nidx], blockT != -np.inf
                    )
                )
            return pd.concat(out, ignore_index=True)

        # guarded path (a pathologically hot cell): row-chunked
        # accumulation. Each chunk still spans the FULL column set, so
        # every row's kth/margin cut sees exactly the candidates the
        # monolithic block did — the keep set is identical and peak
        # memory is ~max_elems doubles per block instead of
        # |new| x |cell|. The settled direction recomputes its
        # (settled x new) blocks with the same element-order updates
        # instead of transposing the monolithic one: entry (j, i)
        # accumulates M[j,d]*M[i,d] in the identical d order, and IEEE
        # multiply commutes term-for-term, so the values are unchanged
        # to the bit.
        out = []
        step = max(1, max_elems // len(ids))
        for s in range(0, nidx.size, step):
            r = nidx[s : s + step]
            R = np.zeros((r.size, len(ids)))
            Mr = M[r]
            for d in range(M.shape[1]):
                R += Mr[:, d : d + 1] * M[:, d]
            sims = R / (nrm[r][:, None] * nrm[None, :])
            finite = np.broadcast_to(valid, sims.shape).copy()
            finite[np.arange(r.size), r] = False  # self-pairs
            out.append(
                margin_rows(
                    np.where(finite, sims, -np.inf), ids[r], ids, finite
                )
            )
        if sidx.size:
            Mn = M[nidx]
            nn = nrm[nidx]
            step = max(1, max_elems // nidx.size)
            for s in range(0, sidx.size, step):
                r = sidx[s : s + step]
                R = np.zeros((r.size, nidx.size))
                Mr = M[r]
                for d in range(M.shape[1]):
                    R += Mr[:, d : d + 1] * Mn[:, d]
                sims = R / (nrm[r][:, None] * nn[None, :])
                # settled and new ids are disjoint and both sides are
                # valid, so no self-pair/zero-norm masking applies
                out.append(
                    margin_rows(
                        sims,
                        ids[r],
                        ids[nidx],
                        np.ones(sims.shape, dtype=bool),
                    )
                )
        return pd.concat(out, ignore_index=True)

    return banded.groupBy("band", "bkey").applyInPandas(
        cell_topk, "band int, src long, dst long, sim_raw double"
    ).select("band", "src", "dst", F.round("sim_raw", 6).alias("sim"))


def _graph_beam_serve(
    queries: DataFrame, corpus: DataFrame, edges: DataFrame
) -> DataFrame:
    """The s30 SERVING walk — seeded entries, fixed Hamming-guided beam
    hops, exact cosine re-rank — shared verbatim by the batch entry
    (s30, graph built in-plan) and the maintained-index streaming twin
    (st39, graph read from VersionedState), so 'serve from the
    maintained graph' and 'serve from the batch-built graph' are the
    same code path by construction and their shared oracle certifies
    both. ``queries``/``corpus`` are _sign_bits_split halves; ``edges``
    is the SYMMETRIZED (src, dst) edge table, already lineage-cut by
    the caller.

    The hop loop runs PER QUERY inside one mapInPandas pass over the
    query table, against graph artifacts that were ALREADY
    driver-bounded by design (the previous formulation broadcast the
    full edge and bit tables into every hop join — same memory class,
    5x the jobs): a beam walk is inherently sequential per query, so
    expressing each hop as a cluster-wide job bought nothing but
    scheduling — 5 hop jobs x (rank window + 3 broadcast builds + 2
    distinct shuffles + a localCheckpoint) measured ~9 s of s30's
    ~18 s on the r14 box while the data per query is <= a few
    thousand integer rows (guide §1.2 step 1: fix the algorithm's
    shape first). This is also how a deployed graph-ANN replica
    serves: graph resident, queries streaming through it.

    Exactness: the walk is INTEGER end to end — Hamming distances via
    XOR + popcount on the packed words (a 16-bit lookup table;
    bit-identical to F.bit_count), beam and shortlist cuts by
    (hamming, vec_id) — so the Python hops reproduce the relational
    hops' rows exactly; the oracle-sensitive floating arithmetic (the
    cosine re-rank) stays in the unchanged Spark tail below. Scale
    shape: queries distribute across tasks; the graph rides one
    broadcast exactly as before (a graph beyond replica memory would
    need graph partitioning — out of scope for this engine, as it was
    for the join formulation)."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    # ---- driver-bounded graph artifacts (the former broadcasts) -----
    # r14 verdict #3: the ceiling on what this path may pull to the
    # driver is ENFORCED, not just documented — fail loudly BEFORE the
    # collect instead of OOMing the driver on a misuse. The count is a
    # column-pruned pass over the corpus (no plan change to the query's
    # own DataFrame); the edge list is bounded by construction
    # (symmetrized per-band top-k), re-checked after its collect.
    n_nodes = corpus.count()
    if n_nodes > _S30_MAX_GRAPH_NODES:
        raise ValueError(
            f"_graph_beam_serve: corpus has {n_nodes} nodes, past the "
            f"{_S30_MAX_GRAPH_NODES}-node driver-resident graph ceiling "
            "(_S30_MAX_GRAPH_NODES) — a graph beyond replica memory "
            "needs graph partitioning, not a bigger collect"
        )
    entry_ids = [
        r.vec_id
        for r in corpus.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("s30e:"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        .limit(_S30_ENTRY)
        .collect()
    ]
    bit_rows = corpus.select("vec_id", "b0", "b1").collect()
    edge_rows = edges.collect()
    max_edges = n_nodes * 2 * _S30_BANDS * _S30_KG
    if len(edge_rows) > max_edges:
        raise ValueError(
            f"_graph_beam_serve: {len(edge_rows)} edges exceed the "
            f"{max_edges} ceiling implied by {n_nodes} nodes x "
            f"2 (sym) x {_S30_BANDS} bands x {_S30_KG} out-edges — the "
            "edge table is not this graph's banded top-k output"
        )

    import numpy as np

    ids = np.array([r.vec_id for r in bit_rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    w0 = np.array([r.b0 for r in bit_rows], dtype=np.uint64)[order]
    w1 = np.array([r.b1 for r in bit_rows], dtype=np.uint64)[order]
    idx_of = {int(v): i for i, v in enumerate(ids)}
    adj: dict[int, list[int]] = {}
    for r in edge_rows:
        si, di = idx_of.get(r.src), idx_of.get(r.dst)
        # an endpoint outside the bit table was dropped by the old
        # formulation's joins too (beam join on src, cbits join on dst)
        if si is not None and di is not None:
            adj.setdefault(si, []).append(di)
    adj_arr = {s: np.array(sorted(d), dtype=np.int64) for s, d in adj.items()}
    entry_idx = np.array([idx_of[v] for v in entry_ids], dtype=np.int64)
    pop16 = np.array(
        [bin(i).count("1") for i in range(1 << 16)], dtype=np.int64
    )
    bc = queries.sparkSession.sparkContext.broadcast(
        (ids, w0, w1, adj_arr, entry_idx, pop16)
    )

    def walk(batches):
        import pandas as pd

        g_ids, g_w0, g_w1, g_adj, g_entry, g_pop = bc.value

        def popcnt(x):
            return (
                g_pop[x & np.uint64(0xFFFF)]
                + g_pop[(x >> np.uint64(16)) & np.uint64(0xFFFF)]
                + g_pop[(x >> np.uint64(32)) & np.uint64(0xFFFF)]
                + g_pop[(x >> np.uint64(48)) & np.uint64(0xFFFF)]
            )

        for pdf in batches:
            out_q, out_v, out_h = [], [], []
            for q_id, q0, q1 in zip(pdf["q_id"], pdf["q0"], pdf["q1"]):
                ham_all = popcnt(g_w0 ^ np.uint64(q0)) + popcnt(
                    g_w1 ^ np.uint64(q1)
                )
                visited = g_entry.copy()
                for _ in range(_S30_HOPS):
                    hv = ham_all[visited]
                    beam_local = np.lexsort((g_ids[visited], hv))[:_S30_BEAM]
                    beam = visited[beam_local]
                    nbrs = [g_adj[s] for s in beam if s in g_adj]
                    if not nbrs:
                        continue
                    cand = np.concatenate([visited] + nbrs)
                    visited = np.unique(cand)
                hv = ham_all[visited]
                keep = np.lexsort((g_ids[visited], hv))[:_S30_SHORT]
                short = visited[keep]
                out_q.extend([int(q_id)] * len(short))
                out_v.extend(int(x) for x in g_ids[short])
                out_h.extend(int(x) for x in hv[keep])
            yield pd.DataFrame(
                {"q_id": out_q, "vec_id": out_v, "hamming": out_h}
            )

    qb = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("b0").alias("q0"),
        F.col("b1").alias("q1"),
    )
    # ---- exact re-rank of the walk's shortlist (s23's tail) ---------
    shortlist = qb.mapInPandas(walk, "q_id long, vec_id long, hamming long")
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        corpus.select("vec_id", "embedding")
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            "hamming",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S30_K)
    )
