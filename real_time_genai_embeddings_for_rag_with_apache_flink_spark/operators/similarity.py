"""Similarity search over embedding columns.

The reference delegates ANN entirely to OpenSearch HNSW
(``KDS-P/index-creation-function/lambda_function.py:72-80``); the engine
computes similarity in-plan:

- exact brute-force top-k (``knn_join``): one kernel, two placements.
  The kernel (``_survivors``) scores a block of corpus rows against the
  driver-sized query side with one float64 GEMM and cuts it to a
  partial top-k per query, O(|Q|·|C|) arithmetic, never |Q|·|C| rows.
  A cached corpus of at most ``_DRIVER_MAX_BYTES`` (64 MB, and within
  ``spark.sql.autoBroadcastJoinThreshold``), queried by at most
  ``_DRIVER_MAX_QUERIES`` (256) rows, is scored on the driver from a pack
  (ids, float64 matrices and norms), and the call runs no Spark job
  beyond collecting its query side. The pack is built at the first
  such call and freed at the first call that finds the corpus
  uncached, or when the DataFrame is garbage-collected. Any other
  call scores the corpus per Arrow batch in one ``mapInArrow`` stage.
  The driver placement took the rag_query benchmark's p50 from 540 to
  345 ms (4-core host, 10 seeds); a request is now mostly its query
  ``embed()`` job;
- IVF-style pruned search (scale path): k-means-ish coarse centroids by
  hashed bucket, search only the closest buckets.
"""

from __future__ import annotations

import threading
import weakref
from types import SimpleNamespace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, dot

# cached corpus -> its slot (lock, key, pack); see _driver_pack. Keyed
# on the caller's DataFrame, so a pack goes when that object is
# collected, or earlier, at the first call that finds the corpus
# uncached. _PACKS_LOCK guards the dictionary only; a build holds its
# own corpus's slot lock, so concurrent first calls on one corpus build
# one pack while calls on other corpora go on.
_PACKS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PACKS_LOCK = threading.Lock()

# knn_join's driver placement bounds, from both placements timed on one
# cached corpus of 1024-d vectors (k = 10, local[4], 4-core host): the
# driver won at every corpus size measured (8.5, 32 and 64 MB) up to
# 256 queries (64 MB: 187 vs 669 ms at 4 queries, 818 vs 955 ms at
# 256), was about even at 384 and 512, and lost at 1024 (3347 vs
# 2621 ms at 64 MB; 842 vs 746 ms at 8.5 MB). Building a 64 MB
# corpus's pack took 1.4 s and raised the driver's Python peak RSS by
# ~0.56 GB; the pack then holds ~0.11 GB. No larger corpus was
# measured, whatever the broadcast threshold allows.
_DRIVER_MAX_BYTES = 64 * 1024 * 1024
_DRIVER_MAX_QUERIES = 256


def query_literal(vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in vec]).cast("array<float>")


def topk_to_vector(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest rows to one literal query vector (cosine).

    Single narrow pass over the corpus + a global top-k (Spark's
    TakeOrderedAndProject — no full sort, no shuffle of losers).
    """
    scored = corpus.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), query_literal(query_vec)), 6).alias(
            "sim"
        ),
    )
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact k-NN join: for every query row, the k most-cosine-similar
    corpus rows, sim rounded to 6 dp, ties broken by corpus id.

    The query side is collected to the driver (driver-sized by
    construction), then the corpus is scored in one of two placements,
    both by ``_survivors`` and with the same schema and tie rule:

    - On the driver, when the cache manager holds ``corpus`` (what
      ``storageLevel`` reads; the Python ``is_cached`` flag misses
      ``spark.catalog.clearCache()``), its cached ``sizeInBytes`` is at
      most ``_DRIVER_MAX_BYTES`` and at most
      ``spark.sql.autoBroadcastJoinThreshold`` (-1 turns this placement
      off), and there are at most ``_DRIVER_MAX_QUERIES`` query rows;
      both bounds are measured (see them). The first such call collects
      the corpus into a pack: 0.6 s at the benchmark's 8.5 MB, 1.4 s
      at 64 MB. Later calls reuse it until one finds the corpus
      uncached (the pack is freed then) or re-cached (rebuilt); it is
      also freed when the DataFrame is garbage-collected. The pack
      holds the vectors as float64, about twice their cached bytes.
      Until a cache is first filled its size reads as the source
      plan's estimate, so such a corpus may take the other placement
      once. The kernel runs over blocks of at most
      ``spark.sql.execution.arrow.maxRecordsPerBatch`` pack rows, so
      its |block| x |Q| arrays are no larger than a ``mapInArrow``
      task's. Spark rounds the survivors' sims over a local relation,
      the driver ranks them, and the result is a local relation whose
      ``collect()`` runs no job.
    - Otherwise one ``mapInArrow`` pass scores each Arrow batch of the
      corpus and forwards only its partial top-k per query; the rank
      filter then plans as a two-phase ``WindowGroupLimit``, so no
      |Q| x |C| pairs are ever materialized or shuffled
      (tests/test_plan_shapes.py).

    On the rag_query benchmark (4 queries x 2000 x 1024-d, 4-core host)
    the GEMM took the p50 from 2386 to 1590 ms against the per-pair
    cosine fold, ``session.build_session``'s worker daemon to 715 ms,
    and the driver placement from 540 to 345 ms (median of seeds
    7201-7210, same host, a later run of the parent)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..sources.batch import spread_compute

    if k < 1:
        raise ValueError(f"knn_join needs k >= 1, got {k!r}")
    fields = [queries.schema[query_id], corpus.schema[corpus_id]]
    q_table = queries.select(query_id, query_vec).toArrow()
    pack = _driver_pack(corpus, corpus_id, corpus_vec, q_table.num_rows)
    if pack is not None:
        return _score_on_driver(queries.sparkSession, q_table, pack, k, fields)
    # spread a single-split fixture scan so scoring doesn't serialize
    # on one core (no-op when the corpus already arrives wide)
    corpus = spread_compute(corpus, corpus_id).select(corpus_id, corpus_vec)
    schema = StructType(fields + [StructField("sim", DoubleType())])
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id))
    return (
        corpus.mapInArrow(_partial_topk(q_table, k), schema)
        .withColumn("sim", F.round("sim", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "sim", "rank")
    )


def _driver_pack(corpus: DataFrame, corpus_id: str, corpus_vec: str, n_queries: int):
    """``(ids, _matrices(vectors))`` of a cached, driver-sized
    corpus, built on first use; None when ``knn_join`` must take the
    ``mapInArrow`` placement: the corpus is uncached or over the byte
    bound, or ``n_queries`` is over the query bound (the pack is then
    kept for later calls). A pack is keyed on the cache's RDD id, so
    re-caching the corpus (say after its source changed) rebuilds it,
    and it is dropped as soon as the corpus is found uncached."""
    jspark = corpus.sparkSession._jsparkSession
    cached = jspark.sharedState().cacheManager().lookupCachedData(corpus._jdf)
    if cached.isEmpty():
        with _PACKS_LOCK:
            _PACKS.pop(corpus, None)
        return None
    if n_queries > _DRIVER_MAX_QUERIES:
        return None
    relation = cached.get().cachedRepresentation()
    limit = min(
        jspark.sessionState().conf().autoBroadcastJoinThreshold(), _DRIVER_MAX_BYTES
    )
    # a fresh computeStats: once the cache is loaded it reads the cached
    # bytes, not the source plan's estimate
    if relation.computeStats().sizeInBytes() > limit:
        return None
    key = (relation.cacheBuilder().cachedColumnBuffers().id(), corpus_id, corpus_vec)
    with _PACKS_LOCK:
        slot = _PACKS.get(corpus)
        if slot is None:
            slot = _PACKS[corpus] = SimpleNamespace(
                lock=threading.Lock(), key=None, pack=None
            )
    with slot.lock:
        if slot.key != key:
            slot.pack = None  # let a stale pack go before its successor is built
            slot.pack = _build_pack(corpus, corpus_id, corpus_vec)
            slot.key = key
        return slot.pack


def _build_pack(corpus: DataFrame, corpus_id: str, corpus_vec: str):
    table = corpus.select(corpus_id, corpus_vec).toArrow()
    return (
        table.column(0).combine_chunks(),
        _matrices(table.column(1).combine_chunks()),
    )


def _score_on_driver(spark, q_table, pack, k: int, fields: list) -> DataFrame:
    """``knn_join``'s result from a driver pack, as a local relation
    with the query and corpus id ``fields`` the other placement keeps.
    Spark rounds the survivors' sims (a projection over a local
    relation, folded without a job: Java's ``Double.toString`` under
    ``round`` is not Python's ``repr``), then each query id's rows are
    ranked in the window's order: NaN first, numbers descending, NULL
    last, then corpus id ascending, NULL ids first."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    ids, corpus = pack
    q_ids = q_table.column(0).combine_chunks()
    queries_m = _matrices(q_table.column(1).combine_chunks())
    # the kernel's |block| x |Q| arrays stay as small as a mapInArrow
    # task's: blocks of at most maxRecordsPerBatch pack rows
    step = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if step <= 0:
        step = max(len(ids), 1)
    blocks = []
    for lo in range(0, max(len(ids), 1), step):
        hi = min(lo + step, len(ids))
        block = _slice_rows(corpus, lo, hi)
        r, c, sim = _survivors(queries_m, len(q_ids), ids.slice(lo, hi - lo), block, k)
        blocks.append((r + lo, c, sim))
    r = np.concatenate([b[0] for b in blocks])
    c = np.concatenate([b[1] for b in blocks])
    sim = pa.concat_arrays([b[2] for b in blocks])
    rounded = (
        spark.createDataFrame(pa.table({"sim": sim}), "sim double")
        .select(F.round("sim", 6))
        .collect()
    )
    sim = pa.array([row[0] for row in rounded], pa.float64())
    null = sim.is_null().to_numpy(zero_copy_only=False)
    val = sim.fill_null(0.0).to_numpy()
    nan = np.isnan(val)
    # one window partition per query id value, as partitionBy(q_id)
    group = pc.dictionary_encode(q_ids, null_encoding="encode").indices.to_numpy()[c]
    order = pc.sort_indices(
        pa.table({
            "g": group,
            "cls": np.where(null, 2, np.where(nan, 0, 1)),
            "neg": np.where(null | nan, 0.0, -val),
            "id": ids.take(r),
        }),
        sort_keys=[(name, "ascending") for name in ("g", "cls", "neg", "id")],
        null_placement="at_start",
    ).to_numpy()
    g = group[order]
    rank = np.arange(len(g)) - np.searchsorted(g, g) + 1
    top = order[rank <= k]
    schema = StructType(fields + [
        StructField("sim", DoubleType()),
        StructField("rank", IntegerType(), False),
    ])
    out = pa.table([
        q_ids.take(c[top]),
        ids.take(r[top]),
        sim.take(top),
        pa.array(rank[rank <= k], pa.int32()),
    ], names=schema.names)
    return spark.createDataFrame(out, schema)


def _slice_rows(matrices: dict, lo: int, hi: int) -> dict:
    """``_matrices`` of pack rows ``lo`` to ``hi - 1``, renumbered from 0,
    as views: each length's rows are ascending, so they are a range."""
    import numpy as np

    out = {}
    for dim, (rows, M, norms) in matrices.items():
        a, b = np.searchsorted(rows, [lo, hi]).tolist()
        if b > a:
            out[dim] = (rows[a:b] - lo, M[a:b], norms[a:b])
    return out


_TIE_SLACK = 2e-6  # > twice the 6-dp rounding's reach of 5e-7


def _matrices(vecs) -> dict:
    """An Arrow list column split by vector length: ``{dim: (rows,
    float64 matrix, norms)}``. Each norm is the sqrt of the left-to-right
    sum of squares, bit for bit ``functions.vector.l2_norm`` (cumsum adds
    in order; sum is pairwise). NULL, empty and NULL-element vectors are
    left out; the fold scores them NULL."""
    import numpy as np
    import pyarrow.compute as pc

    lens = pc.list_value_length(vecs).fill_null(0).to_numpy().copy()
    parent = np.repeat(np.arange(len(vecs)), lens)
    flat = vecs.flatten()
    if flat.null_count:
        lens[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = 0
    values = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    out = {}
    for dim in np.unique(lens[lens > 0]).tolist():
        hit = lens == dim
        M = (values if hit.all() else values[hit[parent]]).reshape(-1, dim)
        out[dim] = (np.flatnonzero(hit), M, np.sqrt(np.cumsum(M * M, 1)[:, -1]))
    return out


def _survivors(queries: dict, n_queries: int, ids, corpus: dict, k: int):
    """The k-NN kernel, on one block of corpus rows (``ids``, and
    ``corpus`` = ``_matrices`` of their vectors) against ``queries``
    (``_matrices`` of the ``n_queries`` query vectors): ``(r, c, sim)``,
    corpus row and query index arrays and an Arrow float64 array of
    sims, for a superset of every row the final ``(round(sim, 6) desc,
    id asc)`` rank keeps. Exactness against
    ``functions.vector.cosine_similarity``:

    - sim = dot / (|e| * |q|) in float64, never from pre-normalised
      vectors (that moves the last bits; a 6-dp rounding can then flip
      a tie).
    - The GEMM only selects: per query, a block keeps the rows whose raw
      sim is >= its k-th best - ``_TIE_SLACK``, so rounded ties across
      blocks and partitions survive. Their dot products are refolded
      left to right, so every sim is the fold's bit for bit.
    - NULL, zero-norm, wrong-length and NULL-element vectors get a NULL
      sim and rank last; a block forwards per query only as many of
      them (lowest ids first) as its scored rows fall short of k.
    - NaN sorts above every number, as in Spark."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(ids)
    S = np.zeros((n, n_queries))
    V = np.zeros(S.shape, dtype=bool)
    blocks = []
    for dim, (rows, E, ne) in corpus.items():
        if dim not in queries:
            continue
        js, Q, nq = queries[dim]
        denom = np.multiply.outer(ne, nq)
        ok = denom != 0.0
        S[np.ix_(rows, js)] = np.divide(
            E @ Q.T, denom, out=np.zeros_like(denom), where=ok
        )
        V[np.ix_(rows, js)] = ok
        blocks.append((rows, js, E, ne, Q, nq))
    key = np.where(V, np.where(np.isnan(S), np.inf, S), -np.inf)
    kth = np.partition(key, n - k, axis=0)[n - k] if n > k else -np.inf
    keep = V & (key >= kth - _TIE_SLACK)
    for rows, js, E, ne, Q, nq in blocks:
        r, c = np.nonzero(keep[np.ix_(rows, js)])
        # + 0.0: the fold, starting from 0.0, never returns -0.0
        dots = np.cumsum(E[r] * Q[c], axis=1)[:, -1] + 0.0
        S[rows[r], js[c]] = dots / (ne[r] * nq[c])
    order = pc.array_sort_indices(ids, null_placement="at_start").to_numpy()
    null = ~V[order]
    keep[order] |= null & (np.cumsum(null, axis=0) <= k - V.sum(axis=0))
    r, c = np.nonzero(keep)
    return r, c, pa.array(S[r, c], mask=~V[r, c])


def _partial_topk(q_table, k: int):
    """``knn_join``'s ``mapInArrow`` body: ``_survivors`` of each corpus
    batch, as ``(q_id, vec_id, sim)`` rows."""
    import pyarrow as pa

    q_ids = q_table.column(0).combine_chunks()
    queries = _matrices(q_table.column(1).combine_chunks())

    def score(batches):
        for batch in batches:
            ids = batch.column(0)
            corpus = _matrices(batch.column(1))
            r, c, sim = _survivors(queries, len(q_ids), ids, corpus, k)
            yield pa.RecordBatch.from_arrays(
                [q_ids.take(c), ids.take(r), sim],
                names=[q_table.column_names[0], batch.schema.names[0], "sim"],
            )

    return score


def label_centroids(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Coarse-quantizer cells from the corpus's label column: per-label
    dimension-wise mean, returned as (cell, centroid array<float>).
    Swap the label for a k-means assignment (operators/kmeans.py) when
    no labeling exists."""
    return (
        corpus.select("label", F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("cval"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pairs"))
        .select(
            F.col("label").alias("cell"),
            F.transform(F.col("pairs"), lambda p: p.cval.cast("float")).alias(
                "centroid"
            ),
        )
    )


def _cell_scores(vec, cells: list[tuple[int, list[float]]]):
    """array<struct<sim,cell>> of the row vector scored against every
    centroid, as literal arithmetic. Centroids are pre-scaled by 1/|c|
    on the driver; the row's own norm is constant across candidates so
    cosine ranking reduces to one dot fold per cell — fully narrow,
    inside whole-stage codegen, zero shuffle."""
    scored = []
    for cell, c in sorted(cells, key=lambda t: t[0]):
        nrm = sum(float(x) * float(x) for x in c) ** 0.5 or 1.0
        lit = F.array(*[F.lit(float(x) / nrm) for x in c])
        scored.append(
            F.struct(dot(vec, lit).alias("sim"), F.lit(int(cell)).alias("cell"))
        )
    return F.array(*scored)


def ivf_assign(
    corpus: DataFrame,
    cells: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign_mode: str = "auto",
) -> DataFrame:
    """(id, vector, cell): nearest-centroid assignment as a narrow
    per-row argmax over literal centroids (the kmeans._nearest_cell
    pattern). The previous design — crossJoin(centroids) then
    row_number() OVER (PARTITION BY vec_id) — blew every corpus row up
    K-fold and shuffled the whole corpus to compute a per-row argmax;
    this plan has NO exchange at all (pinned by
    tests/test_plan_shapes.py). Ties break to the lowest cell id.

    assign_mode mirrors kmeans_assign's: beyond LITERAL_K_CEILING cells
    ('auto', or 'broadcast' explicitly) assignment routes through the
    Arrow-GEMM path (kmeans.assign_cells_broadcast) — same cosine
    ranking and tie order, plan size independent of the cell count.
    Cell ids must then be the contiguous 0..K-1 the literal path also
    assumes (both paths emit POSITIONS in the sorted cell list)."""
    from .kmeans import LITERAL_K_CEILING, assign_cells_broadcast

    ordered = sorted(cells, key=lambda t: t[0])
    if assign_mode not in ("auto", "literal", "broadcast"):
        raise ValueError(f"unknown assign_mode {assign_mode!r}")
    if assign_mode == "broadcast" or (
        assign_mode == "auto" and len(ordered) > LITERAL_K_CEILING
    ):
        # positions in the GEMM matrix == positions in the sorted cell
        # list; map back to the caller's cell ids
        pos_to_cell = F.array(*[F.lit(int(c)) for c, _ in ordered])
        assigned = assign_cells_broadcast(
            corpus.select(id_col, vec_col),
            [c for _, c in ordered],
            vec_col=vec_col,
            out_col="_pos",
        )
        # explicit null guard: element_at(<literal array>, NULL) does
        # NOT return NULL on Spark 4.1 (observed: it yields the LAST
        # element), so an unguarded lookup would silently assign every
        # masked NULL/wrong-length row to the last cell
        return assigned.select(
            id_col,
            vec_col,
            F.when(
                F.col("_pos").isNotNull(),
                F.element_at(pos_to_cell, F.col("_pos") + 1),
            ).alias("cell"),
        )
    scored = _cell_scores(F.col(vec_col), cells)
    best = F.aggregate(
        scored,
        F.element_at(scored, 1),
        lambda acc, s: F.when(s.sim > acc.sim, s).otherwise(acc),
    )
    # NULL / wrong-length vectors get NULL cells (the shared broadcast-
    # path hygiene contract — kmeans._nearest_cell); unguarded, a null
    # sim fold would keep the initial accumulator and silently assign
    # the first cell
    dim = len(ordered[0][1])
    guarded = F.when(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim),
        best.cell,
    )
    return corpus.select(id_col, vec_col, guarded.alias("cell"))


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
) -> DataFrame:
    """IVF-pruned ANN: nearest-centroid cell assignment for the corpus,
    nprobe-nearest cells per query, exact scoring only inside probed
    cells, per-query top-k.

    The centroid table is driver-sized by construction (K cells x dim),
    so it is collected once ("train" step, exactly like kmeans init) and
    both the corpus assignment and the per-query probe lists are narrow
    literal-array computations — no crossJoin row blow-up, no corpus
    shuffle. At scale the assignment is precomputed and the corpus is
    stored partitioned/bucketed by cell, so a query batch scans
    nprobe/K of the data. Recall scales with nprobe — on data with no
    cluster structure it approaches the honest lower bound nprobe/K
    (tests/test_ann_recall.py pins the tradeoff)."""
    cells = [
        (int(r["cell"]), [float(x) for x in r["centroid"]])
        for r in label_centroids(corpus).collect()
    ]
    assigned = ivf_assign(corpus, cells)

    # Per-query probe list: sort the same literal score array, keep the
    # nprobe best cells (sim DESC, cell ASC) — narrow on the tiny query
    # side too; the subsequent explode is nprobe rows per query.
    scored = _cell_scores(F.col(query_vec), cells)
    cmp = lambda a, b: (  # noqa: E731
        F.when(a["sim"] > b["sim"], F.lit(-1))
        .when(a["sim"] < b["sim"], F.lit(1))
        .when(a["cell"] < b["cell"], F.lit(-1))
        .when(a["cell"] > b["cell"], F.lit(1))
        .otherwise(F.lit(0))
    )
    probes = queries.select(
        query_id,
        query_vec,
        F.explode(
            F.transform(
                F.slice(F.array_sort(scored, cmp), 1, nprobe), lambda s: s["cell"]
            )
        ).alias("cell"),
    )

    w_rank = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col(query_id))
        .select(
            query_id,
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col(query_vec)), 6
            ).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


def pack_sign_words_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    word_bits: int = 32,
) -> DataFrame:
    """Binary (sign-bit) quantization at PRODUCTION width: pack each
    vector's sign pattern into ``ceil(dim/word_bits)`` non-negative
    BIGINT words, as one vectorized numpy pass per Arrow batch.

    WHY this exists next to functions/vector.pack_sign_bits: the pure
    codegen flat-sum pack is the right call at catalog width (64 dims =
    two words, zero Python in the plan), but at Titan width (1024 dims,
    KDS-P/index-creation-function/lambda_function.py:66-70) the 1024
    CASE terms exceed janino's method limits — whole-stage codegen
    FAILS COMPILE and Spark silently falls back to interpreted
    evaluation, ~24 s for a 20k-row pack where this path takes well
    under a second (measured; the s23_stress bench row prices both).
    Same auto-switch philosophy as kmeans' literal-vs-GEMM assignment:
    stay expression-native while the expression is small, cross to
    Arrow-batched numpy when width would break codegen. Bit layout is
    IDENTICAL to pack_sign_bits (bit d-within-word set when
    vec[d] > 0), asserted equal in tests/test_binary_ann.py.

    Output: (id_col, words array<bigint>). NULL/wrong-length vectors
    pack to a NULL words array (the pack_sign_bits null contract).
    Hamming over the array form stays fully codegen:
    ``aggregate(zip_with(a, b, (x, y) -> bit_count(x ^ y)), 0, +)`` —
    a ceil(dim/32)-element fold, independent of dim's CASE blowup.
    """
    import math

    import numpy as np
    import pandas as pd

    if dim is None:
        raise ValueError("dim is required (wrong-length rows pack to NULL)")
    n_words = math.ceil(dim / word_bits)
    weights = (1 << np.arange(word_bits, dtype=np.int64))

    def pack(batches):
        for pdf in batches:
            vals = pdf[vec_col]
            valid = vals.map(
                lambda v: v is not None and len(v) == dim
            ).to_numpy(dtype=bool)
            out: list = [None] * len(pdf)
            if valid.any():
                # one vectorized pass over every valid row of the batch:
                # (k, dim) sign matrix -> zero-padded (k, n_words, bits)
                # -> one matmul against the bit weights
                M = np.stack(vals[valid].to_numpy()).astype(np.float64) > 0
                padded = np.zeros((M.shape[0], n_words * word_bits), dtype=bool)
                padded[:, :dim] = M
                words = (
                    padded.reshape(-1, n_words, word_bits) @ weights
                ).astype(np.int64)
                wlist = words.tolist()
                j = 0
                for i, ok in enumerate(valid):
                    if ok:
                        out[i] = wlist[j]
                        j += 1
            yield pd.DataFrame({id_col: pdf[id_col], "words": out})

    return df.select(id_col, vec_col).mapInPandas(
        pack, f"{id_col} long, words array<bigint>"
    )


def hamming_words(a, b):
    """Hamming distance between two packed sign-word arrays — a
    word-count-sized codegen fold (bit_count over xor), never a
    per-dimension expression."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation (recall@k / MRR / nDCG@k)
# ---------------------------------------------------------------------------

def ndcg_weights(k: int, scale: int = 1_000_000) -> list[int]:
    """Position weights for binary-gain DCG@k as SCALED INTEGERS:
    ``w[p] = round(scale / log2(p + 1))`` for 1-based rank p. Summing
    integers instead of ``1/log2`` doubles makes the per-query DCG
    order-independent and bit-exact across engines (the t24 exact-
    arithmetic discipline); the only float op left in nDCG is the final
    single division, which both engines perform identically."""
    import math

    return [round(scale / math.log2(p + 1)) for p in range(1, k + 1)]


def retrieval_eval(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    query_label: str = "q_label",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_label: str = "label",
) -> DataFrame:
    """Per-query retrieval-quality metrics for exact cosine top-k
    against label ground truth: a corpus item is *relevant* to a query
    iff it carries the query's label. Returns one row per query:
    ``(q_id, q_label, n_rel, hits_at_k, recall_at_k, mrr, ndcg_at_k)``.

    The offline eval harness for the retrieval surface the reference
    delegates to OpenSearch k-NN (the HNSW index created by
    ``KDS-P/index-creation-function/lambda_function.py:66-97`` serves
    the RAG queries; this measures whether what it returns is RIGHT).

    Shape (one corpus pass, everything JVM-side):
    - queries are broadcast; cosine is scored map-side and the per-query
      top-k is the rank-filtered window, which plans as a two-phase
      ``WindowGroupLimit`` — at most k rows per query per map task reach
      the exchange, so the shuffle is |Q|*k-sized at any corpus size;
    - the corpus label is carried THROUGH the score/rank pass, so no
      second corpus join is needed to mark hits;
    - ``n_rel`` (per-label corpus count) is a combinable group-count
      aggregate of label-cardinality size, broadcast back;
    - recall@k divides by ``min(n_rel, k)`` (standard capped recall);
      MRR is ``1/first_hit_rank`` (0 when no hit); DCG sums the
      ``ndcg_weights`` integers at hit ranks and nDCG divides by the
      ideal prefix sum — hits/DCG/IDCG are exact integers, each metric
      is ONE final float division rounded to 6 dp.

    Ranking ties are broken on ``ROUND(sim, 6)`` then corpus id — the
    s02 cross-engine-stable ordering."""
    from ..sources.batch import spread_compute

    q = F.broadcast(queries.select(query_id, query_vec, query_label))
    # the map-side cosine is the pass's whole cost and runs at the
    # corpus' incoming partitioning — spread a single-split fixture
    # scan so it doesn't serialize on one core (no-op when the corpus
    # already arrives wide, e.g. any production-scale scan)
    corpus = spread_compute(corpus, corpus_id)
    scored = corpus.crossJoin(q).select(
        F.col(query_id),
        F.col(query_label),
        F.col(corpus_id),
        F.col(corpus_label),
        F.round(
            cosine_similarity(F.col(corpus_vec), F.col(query_vec)), 6
        ).alias("sim"),
    )
    win = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(corpus_id))
    ranked = (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
    )
    return eval_ranked(
        ranked,
        corpus,
        k=k,
        query_id=query_id,
        query_label=query_label,
        corpus_label=corpus_label,
    )


def eval_ranked(
    ranked: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    query_label: str = "q_label",
    corpus_label: str = "label",
    rank_col: str = "rnk",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Grade an ALREADY-RANKED candidate list: ``ranked`` carries one
    row per retrieved item ``(query_id, query_label, corpus_label,
    rank_col in 1..k)`` from ANY ranker — exact cosine
    (``retrieval_eval``), the Hamming-shortlist ANN (s23/s27), PCA
    coarse (s22), or a future hybrid — and the metrics (recall@k
    against ``min(n_rel, k)``, MRR, binary-gain nDCG@k with
    exact-integer DCG/IDCG) come out of the SAME arithmetic, so an
    approximate index's quality drop is measured by construction
    rather than re-derived per ranker. ``corpus`` supplies the ground
    truth: a corpus item is relevant iff it carries the query's label,
    and ``n_rel`` is its per-label group count (label-cardinality
    sized, broadcast back). Aggregation shape: one group-by over the
    <= |Q|*k ranked rows; every metric is exact-integer until a final
    float division (the t24/s25 discipline).

    A query contributing ZERO rows to ``ranked`` (an empty shortlist —
    possible under a filtered or hybrid ranker) produces no metrics
    row unless the ``queries`` universe ``(query_id, query_label)`` is
    passed, in which case it is left-joined in and graded as all-zero
    metrics. Current exact/ANN callers rank >= 1 row per query by
    construction and may omit it; ANY ranker whose shortlist can come
    up empty must pass ``queries`` or silently lose those rows."""
    w_dcg = ndcg_weights(k)
    idcg_prefix = [0]
    for w in w_dcg:
        idcg_prefix.append(idcg_prefix[-1] + w)

    hit = F.col(corpus_label) == F.col(query_label)
    per_q = ranked.filter(F.col(rank_col) <= k).withColumnRenamed(
        rank_col, "rnk"
    ).groupBy(query_id, query_label).agg(
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("hits_at_k"),
        F.min(F.when(hit, F.col("rnk"))).alias("first_hit"),
        F.sum(
            F.when(hit, F.element_at(F.lit(w_dcg), F.col("rnk"))).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_scaled"),
    )
    if queries is not None:
        # no broadcast hint: the row-preserved side of a left-outer
        # join can't be the hash build side, so a hint on `universe`
        # would be silently ignored; both sides are |Q|-sized anyway
        universe = queries.select(query_id, query_label).distinct()
        per_q = (
            universe.join(per_q, [query_id, query_label], "left")
            .withColumn(
                "hits_at_k", F.coalesce("hits_at_k", F.lit(0).cast("bigint"))
            )
            .withColumn(
                "dcg_scaled",
                F.coalesce("dcg_scaled", F.lit(0).cast("bigint")),
            )
        )
    n_rel = F.broadcast(
        corpus.groupBy(F.col(corpus_label).alias("_rel_label")).agg(
            F.count(F.lit(1)).alias("n_rel")
        )
    )
    ideal = F.least(F.col("n_rel"), F.lit(k).cast("bigint"))
    idcg = F.element_at(F.lit(idcg_prefix), (ideal + 1).cast("int"))
    return (
        per_q.join(n_rel, F.col(query_label) == F.col("_rel_label"), "left")
        .withColumn("n_rel", F.coalesce(F.col("n_rel"), F.lit(0).cast("bigint")))
        .select(
            query_id,
            query_label,
            "n_rel",
            "hits_at_k",
            F.when(
                ideal > 0,
                F.round(F.col("hits_at_k").cast("double") / ideal, 6),
            )
            .otherwise(0.0)
            .alias("recall_at_k"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("first_hit"), 6), F.lit(0.0)
            ).alias("mrr"),
            F.when(
                ideal > 0,
                F.round(F.col("dcg_scaled").cast("double") / idcg, 6),
            )
            .otherwise(0.0)
            .alias("ndcg_at_k"),
        )
    )


def maxsim_scores(
    corpus: DataFrame, tokens: DataFrame, doc_col: str = "doc_label"
) -> DataFrame:
    """Late-interaction MaxSim scoring (ColBERT, Khattab & Zaharia
    2020): score(q, d) = sum over q's token vectors of max over d's
    vectors of cosine. ``corpus`` carries (doc_col, embedding);
    ``tokens`` carries (q_id, tok_id, q_vec) and is broadcast (query
    token sets are driver-sized by construction). Returns one row per
    (q_id, doc) with ``maxsim_scaled`` — the score as an EXACT BIGINT
    (each cosine rounded half-away-from-zero at 1e-6 and scaled, the
    t24/s25 integer discipline), so the sum is aggregation-order
    independent and the result hash-stable across engines. The first
    aggregate is a map-side-combinable MAX keyed (q, doc, token):
    post-combine cardinality is independent of per-doc vector counts,
    so the shuffle never carries corpus-proportional rows. Shared by
    the s26 catalog entry, its bench stress pair, and the dense-numpy
    reference pin in tests/test_maxsim.py — one copy of the algebra."""
    sim6 = F.round(cosine_similarity(F.col("embedding"), F.col("q_vec")), 6)
    tok_sim = F.round(sim6 * F.lit(1_000_000.0)).cast("long")
    return (
        corpus.crossJoin(F.broadcast(tokens))
        .select("q_id", doc_col, "tok_id", tok_sim.alias("tok_sim"))
        .groupBy("q_id", doc_col, "tok_id")
        .agg(F.max("tok_sim").alias("tok_sim"))
        .groupBy("q_id", doc_col)
        .agg(F.sum("tok_sim").cast("long").alias("maxsim_scaled"))
    )
