"""Similarity search and near-duplicate operators.

Every kNN tier below is one filter-then-refine pipeline assembled from
the same shared stages; a tier only chooses

- a coarse filter: none (scan the whole corpus) or an IVF probe — a
  seeded Lloyd quantizer trained on a bounded corpus sample, each
  query probing its ``n_probe`` nearest of ``n_cells`` cells
  (:func:`_probe_cells`; at 100 TB the corpus is pre-partitioned by
  cell, so a query touches n_probe/n_cells of the data);
- a codec: raw vectors, SQ8 (per-dimension int8 codes, reconstructed
  and scored in whole-stage codegen) or PQ (m codes per vector,
  asymmetric-distance table gathers in an Arrow pass, raw or
  residual);
- a refine: none, or the exact re-score of a ``k * RERANK_FACTOR``
  shortlist (:func:`_rerank_exact`).

===============  ======  =====  =======
tier             filter  codec  refine
===============  ======  =====  =======
``knn_brute``    none    raw    none
``knn_ivf``      IVF     raw    none
``knn_sq8``      none    SQ8    none
``knn_ivfsq8``   IVF     SQ8    exact
``knn_pq``       none    PQ     exact
``knn_ivfpq``    IVF     PQ     exact
===============  ======  =====  =======

``knn_brute`` is the only exact tier and the baseline the others are
checked against. ``knn_lsh`` generates candidates with MLlib's
random-projection LSH instead of a quantizer. Queries are the small,
broadcast side of every tier: the quantized tiers raise past
``MAX_QUERIES`` rows (:func:`_guard_queries`).

Near-dup: ``minhash_pairs_native`` (expression-level MinHash +
banding), ``minhash_pairs`` (MLlib MinHashLSH) and
``sign_lsh_candidates``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_stream_for_k8s_spark.caching import query_persist

from event_stream_for_k8s_spark.functions.partitioning import (
    spread_to_cores,
)
from event_stream_for_k8s_spark.functions.vectors import (
    cosine,
    cosine_with_norms,
    l2norm,
)
from event_stream_for_k8s_spark.operators.topk import top_k_per_group

# quantizer-training sample size (rows collected to the driver)
TRAIN_N = 512
# shortlist over-fetch of the refining tiers: k * RERANK_FACTOR
# candidates per query are re-scored exactly
RERANK_FACTOR = 10
# PQ codec: PQ_M subspaces, PQ_CODES centroids per subspace codebook
PQ_M = 8
PQ_CODES = 16
# serving contract: queries are the small side of every quantized tier
MAX_QUERIES = 100_000


def _top_k(pairs: DataFrame, q_id: str, c_id: str, k: int) -> DataFrame:
    """Per-query top-k by (sim desc, c_id): the deterministic ranking
    every tier, shortlist and oracle shares."""
    return top_k_per_group(
        pairs, [q_id], [F.col("sim").desc(), F.col(c_id)], k, rank_col="rnk"
    )


def _scored(
    corpus: DataFrame,
    queries: DataFrame,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    on: str | None = None,
) -> DataFrame:
    """(q_id, c_id, sim) exact cosine pairs, self-matches dropped.
    ``on=None`` cross-joins every query with every corpus row;
    ``on="cell"`` equi-joins a probe list onto cell-assigned corpus
    rows (a hash join, not a cross join — the sub-linear path).

    Norms are precomputed per SIDE, not per pair: one fold per pair
    instead of three in the Q x N kernel (cosine_with_norms —
    bit-identical). The query side is explicitly broadcast: it is Q
    rows, or Q x n_probe for a probe list (queries are the
    guarded-small serving side), while the corpus behind an opaque
    assign pass has no usable size estimate — left to itself the
    planner broadcast the CORPUS and streamed the tiny probe list,
    collapsing the scoring stage's parallelism to the probe side's
    partitions (measured 88 s vs 9 s at sf1; guide §3.1: hint when
    estimates are wrong after opaque ops)."""
    corpus = corpus.withColumn("__cn", l2norm(F.col(c_vec)))
    queries = F.broadcast(queries.withColumn("__qn", l2norm(F.col(q_vec))))
    joined = (
        corpus.crossJoin(queries) if on is None else corpus.join(queries, on)
    )
    sim = cosine_with_norms(
        F.col(q_vec), F.col(c_vec), F.col("__qn"), F.col("__cn")
    )
    return joined.filter(F.col(c_id) != F.col(q_id)).select(
        q_id, c_id, F.round(sim, 6).alias("sim")
    )


def _guard_queries(tier: str, n_q: int) -> None:
    """The serving contract of the quantized tiers: queries are the
    SMALL side (collected or broadcast), so an oversized query set
    must raise instead of OOMing the driver or a broadcast."""
    if n_q > MAX_QUERIES:
        raise ValueError(
            f"{tier} query set exceeds {MAX_QUERIES} rows; chunk the "
            "queries or use the LSH/IVF paths for query-heavy workloads"
        )


def knn_brute(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "qid",
    c_id: str = "nid",
    q_vec: str = "qvec",
    c_vec: str = "cvec",
) -> DataFrame:
    """Exact cosine top-k; queries must be broadcast-sized."""
    # the compute-dense nested-loop scan must not run on a one-file
    # scan's single partition (SCALING.md §18); no-op at real scale
    pairs = _scored(
        spread_to_cores(corpus), queries, q_id, c_id, q_vec, c_vec
    )
    return _top_k(pairs, q_id, c_id, k)


def _to_ml_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))


def _empty_knn_result(
    queries: DataFrame, q_id: str, corpus: DataFrame, c_id: str
) -> DataFrame:
    """Empty (q_id, c_id, sim, rnk) result with the input id types —
    the contract for an empty corpus or query set (a reachable serving
    state: everything filtered upstream). The MLlib fits and numpy
    codebook trainers all throw on zero rows, so the tiers guard
    before fitting (tests/test_empty_inputs.py)."""
    return (
        queries.select(q_id)
        .limit(0)
        .crossJoin(corpus.select(c_id).limit(0))
        .select(
            q_id,
            c_id,
            F.lit(0.0).alias("sim"),
            F.lit(0).alias("rnk"),
        )
    )


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
) -> DataFrame:
    """Approximate top-k via random-projection LSH (euclidean buckets).

    Candidates come from an equi-join on bucket ids — a shuffle join on
    hash keys, sub-linear in the corpus — then exact re-ranking.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    if corpus.isEmpty() or queries.isEmpty():
        return _empty_knn_result(queries, q_id, corpus, c_id)
    corpus = spread_to_cores(corpus)
    q = _to_ml_vectors(queries.withColumnRenamed(q_vec, "__raw"), "__raw")
    c = _to_ml_vectors(corpus.withColumnRenamed(c_vec, "__raw"), "__raw")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__v",
        outputCol="__h",
        bucketLength=0.5,
        numHashTables=6,
        seed=42,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(c, q, 2.0, distCol="dist")
    pairs = joined.select(
        F.col(f"datasetB.{q_id}").alias(q_id),
        F.col(f"datasetA.{c_id}").alias(c_id),
        F.round(
            cosine(F.col("datasetB.__raw"), F.col("datasetA.__raw")), 6
        ).alias("sim"),
    ).filter(F.col(q_id) != F.col(c_id))
    return _top_k(pairs, q_id, c_id, k)


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF: coarse-quantize the corpus with a seeded Lloyd quantizer
    trained on a bounded sample (:func:`_lloyd`), probe the
    ``n_probe`` nearest cells per query, exact-search inside them. The
    sample collect and the query-side guard share one round of
    driver actions; the query vectors themselves stay distributed."""
    qlim = queries.select(q_id).limit(MAX_QUERIES + 1)
    train, qrows = _collect_train_sample(corpus, c_id, c_vec, qlim.collect)
    if train.size == 0 or not qrows:
        return _empty_knn_result(queries, q_id, corpus, c_id)
    _guard_queries("knn_ivf", len(qrows))
    corpus = spread_to_cores(corpus)
    cents = _lloyd(train, n_cells)
    corpus_cells = _assign_cells(corpus, c_vec, cents)
    probes = _probe_cells(queries, cents, n_probe, q_id, q_vec, keep_vec=True)
    pairs = _scored(corpus_cells, probes, q_id, c_id, q_vec, c_vec, on="cell")
    return _top_k(pairs, q_id, c_id, k)


def sign_lsh_candidates(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
    bands: int = 4,
    rows: int = 4,
) -> DataFrame:
    """Banded axis-aligned sign-LSH candidate pairs: band b = the sign
    bits of dimensions [b*rows, (b+1)*rows); a pair is a candidate when
    any band agrees (and labels match, if given). Classic band/row
    recall amplification — miss probability (1 - p^rows)^bands where p
    is the per-hyperplane agreement prob (1 - theta/pi).

    Every join is an EQUI-join: posexplode the band array, join on
    (label, band_idx, band_value), distinct the id pairs — never
    all-pairs, all codegen. Returns (id_a, id_b) with id_a < id_b.
    """
    v = F.col(vec_col)
    band_arr = F.array(
        *[
            sum(
                (v[b * rows + k] >= 0).cast("int") * (1 << k)
                for k in range(rows)
            )
            for b in range(bands)
        ]
    )
    cols = [id_col] + ([label_col] if label_col else [])
    banded = vectors.select(
        *cols, F.posexplode(band_arr).alias("band", "bv")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if label_col:
        cond = cond & (F.col(f"a.{label_col}") == F.col(f"b.{label_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signature stage of ``minhash_pairs_native``: whitespace
    tokens -> ``shingle``-grams -> per-doc array of ``num_hashes``
    seeded xxhash64 minima. Docs shorter than ``shingle`` tokens drop
    (no shingles). Extracted so the banding/join/estimate stage can be
    differentialed against a brute-force spec over these signatures.
    """
    t = F.split(F.col(text_col), r"\s+")
    n = F.size(t)
    # Shingle via arrays_zip of k shifted slices: sequential array
    # access instead of per-index element_at lambdas (~7x faster — HOF
    # lambda bodies are interpreted, not codegen'd). No distinct needed:
    # min() over a multiset equals min() over its set.
    zipped = F.arrays_zip(
        *[F.slice(t, j + 1, n - shingle + 1) for j in range(shingle)]
    )
    shingles = docs.filter(n >= shingle).select(
        F.col(id_col),
        F.explode(
            F.transform(
                zipped,
                lambda s: F.concat_ws(
                    " ", *[s[str(j)] for j in range(shingle)]
                ),
            )
        ).alias("sh"),
    )
    return shingles.groupBy(id_col).agg(
        F.array(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("sh")))
                for i in range(num_hashes)
            ]
        ).alias("sig")
    )


def minhash_pairs_native(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    est_threshold: float = 0.3,
) -> DataFrame:
    """Near-dup pairs via expression-level MinHash + LSH banding —
    no MLlib, no Python: the whole pipeline is Catalyst expressions.

    shingle -> k seeded xxhash64 minima (the signature) -> band hashes
    -> bucket self-join (candidates share a band) -> signature-estimated
    Jaccard filter.

    Plan shape at 100 TB: one explode + one groupBy(id) for signatures
    (k min-aggregates, single shuffle), one explode(bands) + equi-join
    on (band, hash) — sub-linear candidate generation, no all-pairs
    stage anywhere. MLlib's MinHashLSH does the same dance through
    sparse-vector UDFs; this form stays in whole-stage codegen.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, id_col, text_col, shingle, num_hashes)
    # Materialize signatures ONCE: the band self-join otherwise
    # recomputes the whole shingle->minhash pipeline for each side
    # (no ReusedExchange across differently-aliased subtrees — ~2x the
    # query, measured). 8*num_hashes bytes/doc is the classic
    # signature-store-a-thousandth-of-the-corpus footprint, safe to
    # cache at any scale. CACHE LIFETIME is caller-owned (ADVICE
    # r08): unpersisting here would force eager evaluation of the
    # lazy result, so the handle is attached to the returned
    # DataFrame as ``result.cached_input`` — repeated invocations in
    # a long-lived session should release it after materializing.
    # The attribute lives on THIS return value only: any further
    # transformation yields a new DataFrame without it, and reading
    # it there raises PySpark's column-resolution AttributeError
    # (ADVICE r09) — grab the handle before deriving anything.
    from pyspark import StorageLevel

    sigs = sigs.transform(query_persist, StorageLevel.MEMORY_AND_DISK)
    banded = sigs.select(
        id_col,
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bh"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "bh"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "bh"
    )
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.aggregate(
            F.zip_with(
                "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / num_hashes
    )
    out = (
        cand.withColumn("jaccard", F.round(est, 6))
        .filter(F.col("jaccard") >= est_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out.cached_input = sigs  # caller-owned cache handle (see above)
    return out


def minhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_distance: float = 0.5,
    num_tables: int = 5,
    num_features: int = 1 << 18,
    shingle: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHashLSH
    (shingle -> minhash -> band -> bucket-join).

    Features are word ``shingle``-grams, not unigrams: token SETS of
    natural-language docs overlap heavily (tiny effective vocab), while
    exact n-gram sequences are distinctive — unigram Jaccard marks
    everything a near-dup, shingle Jaccard only true rewordings."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    t = F.split(F.col(text_col), r"\s+")
    toks = docs.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - shingle + 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(shingle)]
            ),
        ).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    tf = HashingTF(
        inputCol="__toks", outputCol="__f", numFeatures=num_features, binary=True
    )
    feat = tf.transform(toks)
    mh = MinHashLSH(inputCol="__f", outputCol="__h", numHashTables=num_tables, seed=42)
    model = mh.fit(feat)
    # Pre-transform ONCE and persist: approxSimilarityJoin would
    # otherwise recompute shingling+TF+minhash for BOTH sides of the
    # self-join (2x the whole upstream pipeline).
    from pyspark import StorageLevel

    hashed = model.transform(feat).transform(query_persist, StorageLevel.MEMORY_AND_DISK)
    joined = model.approxSimilarityJoin(
        hashed, hashed, jaccard_distance, distCol="jdist"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(1 - F.col("jdist"), 6).alias("jaccard"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def _lloyd(x, k: int, iters: int = 12, seed: int = 42):
    """Seeded, fixed-iteration Lloyd's k-means (numpy, driver-side):
    the IVF coarse quantizer and the PQ codebooks. Both are trained on
    a SAMPLE by design — at 100 TB you never fit the quantizer on the
    full corpus, you sample ~10^5 vectors, train locally, broadcast the
    centroids. An MLlib KMeans fit over the full corpus is the measured
    alternative: its ~20 driver-coordinated Spark jobs cost 3-6 s per
    ANN query at sf0.1."""
    import numpy as np

    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=k, replace=len(x) < k)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            pts = x[a == j]
            if len(pts):
                cent[j] = pts.mean(0)
    return cent


def _concurrently(*actions):
    """Run bounded driver actions (zero-argument callables) on a
    thread pool and return their results in order. Each runs with the
    caller's local properties (job group, description): PySpark's
    pinned-thread mode does not hand them to plain Python threads, so
    without :func:`pyspark.inheritable_thread_target` the jobs would
    belong to no query.

    Fails fast: when one action raises, the jobs of the others are
    cancelled and the first error is re-raised once they have stopped,
    so no build job outlives the call. The jobs are found by a per-call
    job tag; cancelling the caller's job group instead would also
    cancel the caller's other jobs."""
    import uuid
    import warnings
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark import SparkContext, inheritable_thread_target

    sc = SparkContext.getOrCreate()
    tag = f"knn-build-{uuid.uuid4().hex}"

    def tagged(action):
        def run():
            sc.addJobTag(tag)
            try:
                return action()
            finally:
                sc.removeJobTag(tag)

        return run

    with warnings.catch_warnings():
        # only local properties are inherited; no session tags are set
        warnings.simplefilter("ignore", UserWarning)
        targets = [inheritable_thread_target(tagged(a)) for a in actions]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [
            f for f in futures if f in done and f.exception() is not None
        ]
        if failed:
            # re-cancel until every sibling has stopped: a sibling may
            # submit its job only after the first cancel
            while pending:
                sc.cancelJobsWithTag(tag)
                _, pending = wait(pending, timeout=0.1)
            raise failed[0].exception()
        return [f.result() for f in futures]


def _collect_train_sample(
    corpus: DataFrame, c_id: str, c_vec: str, *actions
):
    """``(train, *results)``: the quantizer-training sample as a
    float64 ndarray (empty for an empty corpus, doubling as the
    emptiness probe), collected CONCURRENTLY with the tier's other
    bounded build ``actions`` (guide §2.6 "overlap independent jobs"
    + §5 driver discipline). Every eager plan-build action is a full
    job-scheduling round trip, so the set costs the max of its actions
    instead of their sum — measured 0.044 s vs 0.080 s sequential at
    sf0.1 for the sample plus a query collect. Collecting both through
    one union was SLOWER (0.121 s: the query branch's GlobalLimit
    exchange becomes an extra AQE stage job).

    The sample is the ``TRAIN_N`` lowest-id corpus vectors
    (TakeOrdered on the id — partitioning-invariant, so deterministic
    for fixed data). A seeded-hash-of-id ordering
    (orderBy(xxhash64(42, id), id), an id-decorrelated uniform draw at
    the same bounded TakeOrdered cost) was tried and REJECTED on
    measurement: at the fixture SFs it DEGRADED recall vs brute —
    sf0.001 pq 0.900 -> 0.500 (under the 0.7 floor
    test_knn_pq_recall_vs_brute pins) and ivfpq_residual 0.500 ->
    0.400 while raw stayed 0.500 (violating the residual >= raw
    fixture property) — with no SF where it helped beyond noise
    (sf0.01: ivf 0.7 -> 0.7, ivfpq 0.7 -> 0.6). Its premise (ids
    correlate with ingest time at 100 TB, biasing the prefix) is real
    but unobservable at fixture scale, where the measured effect is
    pure harm; loosening the pinned floors to admit it would be
    gate-dodging. At production scale the right lever remains raising
    ``TRAIN_N`` toward ~10^5 — the collect stays bounded — and/or
    swapping this plan for a seeded uniform draw once a
    representatively-ordered corpus exists to validate against."""
    import numpy as np

    sample = corpus.select(c_vec).orderBy(c_id).limit(TRAIN_N)
    srows, *results = _concurrently(sample.collect, *actions)
    return (np.array([r[0] for r in srows], dtype=np.float64), *results)


def _assign_cells(df: DataFrame, vec_col: str, cents) -> DataFrame:
    """Append ``cell int`` = argmin squared distance to ``cents`` via
    one Arrow pass (vectorized numpy over record batches — guide
    §4.2; the centroid matrix is n_cells x dim floats, closure-tiny).
    Ties resolve to the lowest centroid index. One linear pass."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            d = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            out = pdf.copy()
            out["cell"] = d.argmin(1).astype("int32")
            yield out

    # fresh StructType: StructType.add mutates in place, which would
    # corrupt the input DataFrame's cached schema object
    out_schema = StructType(
        list(df.schema.fields) + [StructField("cell", IntegerType())]
    )
    return df.mapInPandas(assign, out_schema)


def _probe_cells(
    queries: DataFrame,
    cents,
    n_probe: int,
    q_id: str,
    q_vec: str,
    keep_vec: bool,
) -> DataFrame:
    """The IVF probe list: each query's ``n_probe`` nearest centroids
    by (csim desc, cell), from a tiny cross join against the broadcast
    centroid frame. Rows are ``(q_id, q_vec, cell)`` when ``keep_vec``
    (the probe list is then the query side of the exact scan) and
    ``(q_id, cell)`` otherwise."""
    cent_df = queries.sparkSession.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(cents)],
        ["cell", "centroid"],
    )
    keep = [q_id, q_vec, "cell"] if keep_vec else [q_id, "cell"]
    csim = F.round(cosine(F.col(q_vec), F.col("centroid")), 6)
    return top_k_per_group(
        queries.crossJoin(F.broadcast(cent_df)).select(
            *keep, csim.alias("csim")
        ),
        [q_id],
        [F.col("csim").desc(), F.col("cell")],
        n_probe,
    ).select(*keep)


def _rerank_exact(
    pairs: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    q_id: str,
    c_id: str,
    q_vec: str,
    c_vec: str,
) -> DataFrame:
    """Shortlist-then-rerank: the approximate scores in ``pairs``
    prune the corpus to ``k * RERANK_FACTOR`` candidates per query,
    and the exact kernel re-scores only that shortlist (equi-join on
    c_id — it touches RERANK_FACTOR*k/N of the corpus, not all of it).
    This two-stage shape is how quantized ANN is deployed:
    quantization error shifts ranks a few places, so over-fetch then
    re-rank."""
    shortlist = _top_k(pairs, q_id, c_id, k * RERANK_FACTOR).select(
        q_id, c_id
    )
    exact = (
        shortlist.join(corpus, c_id)
        .join(F.broadcast(queries), q_id)
        .select(
            q_id,
            c_id,
            F.round(cosine(F.col(q_vec), F.col(c_vec)), 6).alias("sim"),
        )
    )
    return _top_k(exact, q_id, c_id, k)


def _pq_books(train):
    """``(sub, books)``: the PQ_M per-subspace codebooks (PQ_CODES
    centroids of width ``sub`` each), seeded per subspace."""
    dim = train.shape[1]
    sub = dim // PQ_M
    assert sub * PQ_M == dim, f"dim {dim} not divisible by m={PQ_M}"
    books = [
        _lloyd(train[:, j * sub : (j + 1) * sub], PQ_CODES, seed=42 + j)
        for j in range(PQ_M)
    ]
    return sub, books


def _pq_luts(qrows, books, sub):
    """``(luts, qnorms)`` for the ``(q_id, q_vec)`` rows: per query an
    (m, n_codes) table of each code word's dot contribution in its
    subspace, stacked to (Q, m, n_codes), and the exact query norms."""
    import numpy as np

    qvs = [np.asarray(r[1], dtype=np.float64) for r in qrows]
    luts = np.stack(
        [
            np.stack(
                [b @ qv[j * sub : (j + 1) * sub] for j, b in enumerate(books)]
            )
            for qv in qvs
        ]
    )
    qnorms = np.array([float(np.sqrt((qv * qv).sum())) for qv in qvs])
    return luts, qnorms


def knn_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "qid",
    c_id: str = "nid",
    q_vec: str = "qvec",
    c_vec: str = "cvec",
) -> DataFrame:
    """IVF-PQ's PQ half: product-quantized asymmetric-distance knn.

    The corpus is stored as m uint8 codes + one exact norm per vector
    (m + 8 bytes instead of 4*dim — 8x smaller at dim=64, the reason
    PQ is the 100 TB ANN memory story). Queries build per-subspace
    lookup tables once; scoring a vector is m table gathers — no
    float math per dimension. Encode and score run as Arrow-batched
    mapInPandas over the corpus (numpy gathers), never collecting it;
    only the codebook (m*n_codes*sub_dim floats) and the query set
    travel to executors. The PQ scores pick the shortlist that
    :func:`_rerank_exact` re-scores.
    """
    import numpy as np

    # the query rows are collected for the LUTs, so the guard rides
    # the same driver action as the codebook sample
    qlim = queries.select(q_id, q_vec).limit(MAX_QUERIES + 1)
    train, qrows = _collect_train_sample(corpus, c_id, c_vec, qlim.collect)
    if train.size == 0 or not qrows:
        return _empty_knn_result(queries, q_id, corpus, c_id)
    _guard_queries("knn_pq", len(qrows))
    # dim comes from the training sample already collected — the
    # array<float> schema doesn't carry it, and probing .first() would
    # cost one extra Spark job per call
    corpus = spread_to_cores(corpus)
    sub, books = _pq_books(train)
    m = len(books)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            v = np.stack(pdf[c_vec].map(np.asarray)).astype(np.float64)
            codes = np.empty((len(v), m), dtype=np.int32)
            for j in range(m):
                s = v[:, j * sub : (j + 1) * sub]
                d = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame(
                {
                    c_id: pdf[c_id],
                    "codes": list(codes),
                    "norm": np.sqrt((v * v).sum(1)),
                }
            )

    coded = corpus.mapInPandas(
        encode, f"{c_id} bigint, codes array<int>, norm double"
    )

    luts, qnorms = _pq_luts(qrows, books, sub)
    # explicit broadcast instead of task-closure pickling: the LUT array
    # is up to Q*m*n_codes float64 (~100 MB at the query guard limit) and
    # closure capture re-serializes it per stage (ADVICE r11)
    bc = corpus.sparkSession.sparkContext.broadcast(
        (luts, np.array([r[0] for r in qrows]), qnorms)
    )

    def score(batches):
        import pandas as pd

        luts_b, qids_b, qnorms_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].map(np.asarray))  # (N, m)
            norms = pdf["norm"].to_numpy()
            nids = pdf[c_id].to_numpy()
            # ADC: approx dot = sum_j lut[q, j, code[n, j]]
            dots = np.zeros((len(qids_b), len(nids)))
            for j in range(m):
                dots += luts_b[:, j, :][:, codes[:, j]]
            # zero-norm query/corpus vectors: NaN (-> NULL through Arrow)
            # instead of inf, mirroring the JVM cosine path's try_divide
            # semantics so degenerate vectors sort last, not first
            den = qnorms_b[:, None] * norms[None, :]
            sims = np.divide(
                dots, den, out=np.full_like(dots, np.nan), where=den != 0
            )
            qq, nn = np.meshgrid(
                np.arange(len(qids_b)), np.arange(len(nids)), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    q_id: qids_b[qq.ravel()],
                    c_id: nids[nn.ravel()],
                    "sim": np.round(sims.ravel(), 6),
                }
            )

    pairs = coded.mapInPandas(
        score, f"{q_id} bigint, {c_id} bigint, sim double"
    ).filter(F.col(q_id) != F.col(c_id))
    return _rerank_exact(pairs, corpus, queries, k, q_id, c_id, q_vec, c_vec)


def knn_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "qid",
    c_id: str = "nid",
    q_vec: str = "qvec",
    c_vec: str = "cvec",
    n_cells: int = 16,
    n_probe: int = 4,
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ combined: the deployed large-corpus ANN shape — the IVF
    coarse quantizer prunes the search to ``n_probe`` of ``n_cells``
    cells, PQ asymmetric distance scores ONLY the coded vectors in
    probed cells (m table gathers per vector, corpus stored as m
    codes + a norm), and the exact kernel re-ranks the top
    k*RERANK_FACTOR shortlist. Both quantizers are seeded, so results
    are deterministic. Scale story multiplies: touch n_probe/n_cells
    of the corpus AND read 8x fewer bytes per touched vector; the
    shortlist equi-join re-reads only RERANK_FACTOR*k rows per query.

    ``by_residual=False`` quantizes RAW vectors — one codebook serves
    every cell (a single broadcast scalar table). ``by_residual=True``
    is the FAISS default: codes quantize v - centroid(cell(v)), whose
    spread is the WITHIN-cell variance — a strictly easier target for
    the same m x n_codes byte budget, so recall at equal bytes is >=
    the raw mode. The ADC stays one LUT per query because the inner
    product is linear: dot(q, v) = dot(q, centroid) + dot(q, residual)
    — the per-(query, cell) centroid term is a Q x n_cells matrix
    computed once on the driver and broadcast; the per-code table
    gathers are unchanged. Same storage (m codes + a norm), same
    broadcast codebook, same two-stage shortlist/re-rank plan."""
    import numpy as np

    # one round of driver actions collects the sample for BOTH
    # quantizers and the guarded query rows the LUTs need
    qlim = queries.select(q_id, q_vec).limit(MAX_QUERIES + 1)
    train, qrows = _collect_train_sample(corpus, c_id, c_vec, qlim.collect)
    if train.size == 0 or not qrows:
        return _empty_knn_result(queries, q_id, corpus, c_id)
    _guard_queries("knn_ivfpq", len(qrows))
    qix = {r[0]: i for i, r in enumerate(qrows)}
    if len(qix) != len(qrows):
        # a dict would silently collapse duplicates to the LAST row's
        # LUT/norm and score the shadowed rows wrong (ADVICE r11) —
        # unique query ids are a contract of the ivfpq serving path
        raise ValueError(
            f"knn_ivfpq requires unique {q_id} values: got "
            f"{len(qrows)} rows but {len(qix)} distinct ids"
        )
    corpus = spread_to_cores(corpus)
    cents = _lloyd(train, n_cells)  # (n_cells, dim)
    probes = _probe_cells(queries, cents, n_probe, q_id, q_vec, keep_vec=False)
    if by_residual:
        # train the codebooks on residuals: assign the training sample
        # to its nearest centroid and subtract — the codebook then
        # models the within-cell spread, not the whole-space spread
        tcell = (
            ((train[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
        )
        train = train - cents[tcell]
    sub, books = _pq_books(train)
    m = len(books)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[c_vec].map(np.asarray)).astype(np.float64)
            norms = np.sqrt((v * v).sum(1))  # EXACT norm, pre-residual
            # cell assignment fused into the same Arrow pass the codes
            # need anyway: argmin squared distance, ties to the lowest
            # index
            cell = (
                ((v[:, None, :] - cents[None, :, :]) ** 2)
                .sum(-1)
                .argmin(1)
                .astype("int32")
            )
            if by_residual:
                v = v - cents[cell]
            codes = np.empty((len(v), m), dtype=np.int32)
            for j in range(m):
                s = v[:, j * sub : (j + 1) * sub]
                d = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame(
                {
                    c_id: pdf[c_id],
                    "cell": cell,
                    "codes": list(codes),
                    "norm": norms,
                }
            )

    coded = corpus.select(c_id, c_vec).mapInPandas(
        encode, f"{c_id} bigint, cell int, codes array<int>, norm double"
    )

    luts, qnorms = _pq_luts(qrows, books, sub)
    # per-(query, cell) centroid dot term for the residual ADC:
    # dot(q, v) = dot(q, centroid_cell) + dot(q, residual); zeros in
    # raw mode so score() stays one code path
    qc = (
        np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        @ cents.T
        if by_residual
        else np.zeros((len(qrows), n_cells))
    )  # (Q, n_cells)
    # explicit broadcast: closure capture would re-pickle the LUT array
    # (up to ~100 MB at the query guard limit) into EVERY stage that
    # references score() (ADVICE r11)
    bc = corpus.sparkSession.sparkContext.broadcast((luts, qnorms, qix, qc))

    # ADC over probed cells only: equi-join on cell, then m table
    # gathers per row — no float math per dimension
    probed = coded.join(F.broadcast(probes), "cell")

    def score(batches):
        import pandas as pd

        luts_b, qnorms_b, qix_b, qc_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].map(np.asarray))
            norms = pdf["norm"].to_numpy()
            qi = pdf[q_id].map(qix_b).to_numpy()
            d = qc_b[qi, pdf["cell"].to_numpy()].copy()
            for j in range(m):
                d += luts_b[qi, j, codes[:, j]]
            # zero-norm guard: NaN (-> NULL via Arrow) instead of
            # inf/NaN noise, matching the JVM try_divide path so
            # degenerate vectors rank last in the shortlist (ADVICE r11)
            den = qnorms_b[qi] * norms
            sims = np.divide(
                d, den, out=np.full_like(d, np.nan), where=den != 0
            )
            yield pd.DataFrame(
                {
                    q_id: pdf[q_id],
                    c_id: pdf[c_id],
                    "sim": np.round(sims, 6),
                }
            )

    pairs = probed.mapInPandas(
        score, f"{q_id} bigint, {c_id} bigint, sim double"
    ).filter(F.col(q_id) != F.col(c_id))
    return _rerank_exact(pairs, corpus, queries, k, q_id, c_id, q_vec, c_vec)


def _lo_scale(dim_rows) -> tuple[list, list]:
    """(lo, scale) lists from per-dimension (pos, lo, hi) rows,
    sorted DRIVER-side: a d-row distributed ``orderBy("pos")`` costs a
    range-partitioning sampling pass plus sort stages per calibration
    (guide §5: the driver should do almost no data work, but sorting
    d<=few-thousand rows locally is not data work, while scheduling
    two extra stages per call is real latency). scale is (hi-lo)/255
    with a floor so constant dimensions encode to 0 instead of
    dividing by zero."""
    dims = sorted(dim_rows, key=lambda r: r["pos"])
    lo = [float(r["lo"]) for r in dims]
    scale = [
        max((float(r["hi"]) - float(r["lo"])) / 255.0, 1e-30)
        for r in dims
    ]
    return lo, scale


def sq8_calibrate(corpus: DataFrame, c_vec: str = "cvec"):
    """Per-dimension (lo, scale) calibration for SQ8 scalar
    quantization: one posexplode aggregate over the corpus, d rows to
    the driver (d = the embedding dim — bounded and tiny, the same
    class as the PQ codebook collect), sorted driver-side
    (:func:`_lo_scale`)."""
    stats = (
        corpus.select(F.posexplode(F.col(c_vec)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    return _lo_scale(stats)


def sq8_encode(vec, lo: list, scale: list):
    """float array column -> int8-range code array (0..255), the
    STORED representation: code[i] = clamp(round((x - lo[i]) /
    scale[i])). Pure codegen (transform + literal-array element_at)."""
    lo_c = F.array(*[F.lit(v) for v in lo])
    sc_c = F.array(*[F.lit(v) for v in scale])
    return F.transform(
        vec.cast("array<double>"),
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (x - F.element_at(lo_c, i + 1))
                    / F.element_at(sc_c, i + 1)
                ).cast("int"),
            ),
        ),
    )


def sq8_decode(code, lo: list, scale: list):
    """code array column -> reconstructed float array:
    lo[i] + code[i] * scale[i]."""
    lo_c = F.array(*[F.lit(v) for v in lo])
    sc_c = F.array(*[F.lit(v) for v in scale])
    return F.transform(
        code,
        lambda c, i: F.element_at(lo_c, i + 1)
        + c.cast("double") * F.element_at(sc_c, i + 1),
    )


def knn_sq8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "qid",
    c_id: str = "nid",
    q_vec: str = "qvec",
    c_vec: str = "cvec",
) -> DataFrame:
    """SQ8 scalar-quantized ANN (the FAISS ScalarQuantizer QT_8bit
    shape): per-dimension min/max calibration (closed-form — unlike
    PQ there is NO codebook training), int8 codes as the stored
    representation (4x smaller than float32), nearest-code
    reconstruction at scan time, exact cosine top-k on the
    reconstructed vectors. Per-dim resolution is range/255, so recall
    is near-exact — SQ8 is the memory tier you take FIRST at 100 TB
    (cheap, uniform, no training drift) before reaching for PQ's 8x;
    :func:`knn_ivfsq8` is the composed production form (prune cells,
    then scan 4x-cheaper bytes). All scan-side math is whole-stage
    codegen; only the d-row calibration touches the driver."""
    # The calibration aggregate and the query guard count run as two
    # CONCURRENT driver actions (guide §2.6 "overlap independent
    # jobs"): max(a, b) wall instead of a + b — measured 0.125 s vs
    # 0.193 s sequential at sf0.1. Rejected, so not re-tried: folding
    # the guard into the calibration via crossJoin (+0.18 s) or via a
    # pos=-1 union branch into the same aggregate (0.370 s — the union
    # branch costs an extra exchange and defeats the aggregate's
    # simple scan+partial shape). The calibration doubles as the
    # empty-corpus probe (no rows -> no dimensions), the count as the
    # empty-queries probe. Calibration stays on the UN-spread corpus:
    # min/max is partitioning-invariant, and routing the d-row
    # aggregate through the round-robin exchange re-paid the spread
    # for zero benefit; the spread stays for the compute-dense scan.
    (lo, scale), n_q = _concurrently(
        lambda: sq8_calibrate(corpus, c_vec),
        queries.limit(MAX_QUERIES + 1).count,
    )
    _guard_queries("knn_sq8", n_q)
    if n_q == 0 or not lo:
        return _empty_knn_result(queries, q_id, corpus, c_id)
    dec = (
        spread_to_cores(corpus)
        .select(c_id, sq8_encode(F.col(c_vec), lo, scale).alias("code"))
        .select(c_id, sq8_decode(F.col("code"), lo, scale).alias("rvec"))
    )
    pairs = _scored(dec, queries, q_id, c_id, q_vec, "rvec")
    return _top_k(pairs, q_id, c_id, k)


def knn_ivfsq8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "qid",
    c_id: str = "nid",
    q_vec: str = "qvec",
    c_vec: str = "cvec",
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF x SQ8 combined — the SQ8 tier's production composition,
    the :func:`knn_ivfpq` pattern with the scalar quantizer in place
    of PQ: the seeded coarse quantizer prunes the search to
    ``n_probe`` of ``n_cells`` cells, the scan inside probed cells
    reads int8 SQ8 codes (4x fewer bytes per touched vector) and
    reconstructs + scores them entirely in whole-stage codegen — NO
    Python, no LUT broadcast, the structural advantage SQ8 holds over
    PQ — and the exact kernel re-ranks the k*RERANK_FACTOR shortlist
    on raw vectors. Unlike PQ there is no codebook training (the
    calibration is a closed-form d-row aggregate), so the tier has no
    training-drift maintenance cost at 100 TB."""
    # The whole index build — coarse-quantizer sample, SQ8
    # calibration aggregate, query guard count — runs as THREE
    # CONCURRENT driver actions (guide §2.6: they are independent and
    # individually bounded, so the build costs the max of the three
    # instead of their sum). The sample doubles as the
    # corpus-emptiness probe and the guard count as the empty-queries
    # probe. Calibration stays on the UN-spread corpus (min/max is
    # partitioning-invariant); the spread feeds the compute-dense
    # assign/encode/score stages.
    train, (lo, scale), n_q = _collect_train_sample(
        corpus,
        c_id,
        c_vec,
        lambda: sq8_calibrate(corpus, c_vec),
        queries.limit(MAX_QUERIES + 1).count,
    )
    if train.size == 0 or n_q == 0:
        return _empty_knn_result(queries, q_id, corpus, c_id)
    _guard_queries("knn_ivfsq8", n_q)
    corpus = spread_to_cores(corpus)
    cents = _lloyd(train, n_cells)
    probes = _probe_cells(queries, cents, n_probe, q_id, q_vec, keep_vec=True)
    # int8 codes stored per cell; the probed-cell scan reconstructs
    # and scores them in codegen
    enc = _assign_cells(corpus, c_vec, cents).select(
        c_id, "cell", sq8_encode(F.col(c_vec), lo, scale).alias("code")
    )
    dec = enc.select(
        c_id, "cell", sq8_decode(F.col("code"), lo, scale).alias("rvec")
    )
    pairs = _scored(dec, probes, q_id, c_id, q_vec, "rvec", on="cell")
    return _rerank_exact(pairs, corpus, queries, k, q_id, c_id, q_vec, c_vec)
