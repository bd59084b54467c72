"""Embedding similarity search over an array<float> column.

* ``cosine_topk`` — brute-force exact top-k against one query vector:
  JVM-side codegen'd dot-product folds, a single scan, no
  shuffle except the final top-k (``orderBy ... limit`` runs as a
  per-partition TakeOrdered + driver merge).
* ``rhp_buckets`` / ``ann_topk`` — random-hyperplane LSH: sign bits of
  h deterministic projections form a bucket id; candidates come from the
  query's bucket (plus optional multi-probe neighbors), then exact
  re-rank.  The scale path: bucket join instead of full scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------------------
# Generated-SQL fold expressions (round-6 optimization).
#
# The similarity kernels were interpreted ``aggregate``/``zip_with`` folds:
# higher-order functions are CodegenFallback, so every pair cosine in a
# join output paid per-element interpreted evaluation, and building the
# Column trees cost one py4j round trip per centroid element (seconds for
# k×64 literals).  Each helper below emits ONE SQL string with the exact
# same left-associative fold (initial 0.0, identical cast/promotion per
# term), so Catalyst sees the identical arithmetic but whole-stage
# codegen compiles it and the driver builds it in microseconds.
# ---------------------------------------------------------------------------


def _dlit(v: float) -> str:
    """Exact double literal: repr() round-trips IEEE, the CAST parses it
    back to the identical bits (same contract as F.lit(float(v)))."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _darr(vec) -> str:
    """Literal array<double> for generated SQL."""
    return "array(" + ", ".join(_dlit(v) for v in vec) + ")"


# --- k-wide fold banks: HOF text, NOT explicit chains -----------------------
# One explicit 64-term chain compiles to ~10-20 KB of generated Java and
# codegen handles it; an ARRAY of k such folds in one projection crosses
# Janino's hard 64 KB/method limit, and Spark then pays a FAILED compile
# (~2 s, re-paid on every execution) before falling back to interpreted
# eval — measured 22-45 s walls on ivf_assign/semantic_dedup.  Wide banks
# therefore stay as higher-order-function text (the original interpreted
# fold, now just built as SQL instead of py4j Columns); single folds use
# the codegen chains above.


def _sqd_hof_sql(vec: str, centroid) -> str:
    """HOF text of the original ``zip_with(v, c, (x-y)*(x-y))`` +
    ``aggregate(.., 0.0D, acc + t)`` fold — identical analyzer casts,
    identical left-assoc double sum."""
    return (f"aggregate(zip_with({vec}, {_darr(centroid)},"
            f" (x, y) -> (x - y) * (x - y)), 0.0D, (acc, t) -> acc + t)")


def _dot_hof_sql(vec: str, q) -> str:
    """HOF text of the original ``zip_with(a, b, x*y)`` +
    ``aggregate(.., 0.0D, acc + x)`` fold."""
    return (f"aggregate(zip_with({vec}, {_darr(q)},"
            f" (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")


def _norm_hof_sql(vec: str) -> str:
    """HOF text of the original ``aggregate(c, 0.0D, acc +
    CAST(x AS DOUBLE) * CAST(x AS DOUBLE))`` norm fold (full array
    length, like the old Column version)."""
    return (f"sqrt(aggregate({vec}, 0.0D,"
            f" (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors of a literal query vector (one
    generated-SQL fold — the fastest measured shape for this single-fold
    scan; the old Column build alone cost ~dim py4j round trips)."""
    from sparrow_ipc_spark.functions.util import ident

    v = ident(vec_col)
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    # try_divide: an all-zero vector (or zero query) yields NULL cosine —
    # sorted after every real score by desc-nulls-last — instead of a
    # fatal DIVIDE_BY_ZERO under the session's default ANSI mode
    cos = F.expr(
        f"try_divide({_dot_hof_sql(v, query_vec)},"
        f" {_norm_hof_sql(v)} * {_dlit(qn)})")
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng([seed, 862_457])
    return rng.standard_normal((n_planes, dim))


def rhp_buckets(df: DataFrame, dim: int, n_planes: int = 12, seed: int = 42,
                vec_col: str = "embedding") -> DataFrame:
    """Append a random-hyperplane LSH bucket id column ``bucket``.

    Deterministic hyperplanes (seeded) as double literals → each plane's
    sign bit comes from the same fold as before, built as ONE SQL string
    instead of n_planes × dim py4j literals.  The n_planes-wide bank
    stays HOF text (see the fold-bank note above: an explicit chain bank
    would blow the 64 KB codegen method limit and run slower than
    interpreted after the failed compile)."""
    from sparrow_ipc_spark.functions.util import ident, spread

    planes = _hyperplanes(dim, n_planes, seed)
    terms = " + ".join(
        f"(CASE WHEN {_dot_hof_sql(ident(vec_col), p)} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return spread(df).withColumn(
        "bucket", F.expr(f"CAST({terms} AS BIGINT)" if terms
                         else "CAST(0 AS BIGINT)"))


def ann_topk(df: DataFrame, query_vec: list[float], k: int = 10, n_planes: int = 12,
             seed: int = 42, vec_col: str = "embedding", id_col: str = "vec_id",
             multiprobe: int = 1) -> DataFrame:
    """Approximate top-k: restrict the exact re-rank to the query's LSH
    bucket (and, with ``multiprobe``>0, buckets at Hamming distance 1)."""
    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    qbits = (planes @ np.asarray(query_vec) >= 0).astype(np.int64)
    qbucket = int((qbits << np.arange(n_planes)).sum())
    probes = {qbucket}
    if multiprobe:
        probes |= {qbucket ^ (1 << i) for i in range(n_planes)}
    bucketed = rhp_buckets(df, dim, n_planes, seed, vec_col)
    cand = bucketed.where(F.col("bucket").isin(*[int(b) for b in probes]))
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def ivf_centroids(df: DataFrame, n_centroids: int = 16, seed: int = 42,
                  sample: int = 2048, iters: int = 5,
                  vec_col: str = "embedding", id_col: str = "vec_id") -> np.ndarray:
    """Deterministic IVF coarse quantizer: Lloyd's k-means on a bounded,
    id-ordered sample pulled to the driver (sample size is capped, never
    the table), centroids then broadcast as literals.  Determinism: sample
    = lowest ``sample`` ids, init = first ``n_centroids`` sampled vectors."""
    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    if len(x) == 0:
        return np.zeros((0, 0))
    c = x[: min(n_centroids, len(x))].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - c[None]) ** 2).sum(-1)
        a = d.argmin(1)
        for k in range(len(c)):
            m = a == k
            if m.any():
                c[k] = x[m].mean(0)
    return c


def ivf_centroids_distributed(df: DataFrame, n_centroids: int = 16, seed: int = 42,
                              iters: int = 3, vec_col: str = "embedding",
                              id_col: str = "vec_id", init_sample: int = 1024,
                              fraction: float | None = None) -> np.ndarray:
    """Distributed Lloyd k-means over the FULL table (scale path for
    :func:`ivf_centroids`, whose bounded id-ordered driver sample
    under-represents clusters whose rows don't appear among the lowest
    ids — at 10^9+ vectors the sample-trained centroids skew and probed
    recall degrades).

    * **Init** — a hash-spread sample: ``orderBy(xxhash64(id, seed))
      limit init_sample`` (a distributed TakeOrdered, deterministic,
      bounded) pools rows from *everywhere* in the table regardless of id
      locality, then greedy farthest-point seeding picks ``n_centroids``
      spread starts (k-means‖-flavored: spread-out init from a
      distributed sample instead of first-k ids).
    * **Each Lloyd round** — centroids ride into a ``mapInPandas`` pass as
      a plain numpy closure (broadcast-sized: k×dim floats); every Arrow
      batch computes assignments and per-cluster partial (count, Σvec)
      fully vectorized (no per-row Python).  Partials are reduced IN
      SPARK: the count is packed as element 0 of the partial-sum array,
      one ``posexplode`` + ``groupBy(cluster, j).sum`` bounds the shuffle
      at k×(dim+1) rows, and the driver collects exactly k×(dim+1)
      doubles per round — never rows of the table.
    * Empty clusters keep their previous centroid.  ``fraction``
      optionally trains each round on a deterministic Bernoulli sample of
      the table (the 100 TB knob: one pass over ~0.1% is plenty to place
      16-4096 coarse centroids).

    Full-probe ``ivf_topk`` is training-independent (any partition of the
    lists reproduces the exact scan), so correctness oracles hold under
    either trainer; this one exists for probed-recall quality at scale.
    """
    import pandas as pd

    samp = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(int(init_sample))
        .collect()
    )
    x = np.asarray([list(r[1]) for r in samp], dtype=np.float64)
    if len(x) == 0:
        return np.zeros((0, 0))
    k = min(n_centroids, len(x))
    # greedy farthest-point: spread seeds even when the sample is skewed
    chosen = [0]
    d_min = ((x - x[0]) ** 2).sum(-1)
    while len(chosen) < k:
        nxt = int(d_min.argmax())
        chosen.append(nxt)
        d_min = np.minimum(d_min, ((x - x[nxt]) ** 2).sum(-1))
    c = x[chosen].copy()
    dim = c.shape[1]

    train = df.sample(fraction=fraction, seed=seed) if fraction else df
    train = train.select(vec_col)

    for _ in range(max(0, iters)):
        cc = c.copy()  # closure snapshot for this round

        def partials(batches, _c=cc):
            csq = (_c ** 2).sum(-1)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray([np.asarray(v, dtype=np.float64)
                                for v in pdf[vec_col]])
                # ||x-c||² = ||x||² − 2·x·cᵀ + ||c||²  (argmin drops ||x||²)
                a = (X @ _c.T * -2.0 + csq[None]).argmin(1)
                out = []
                for kk in np.unique(a):
                    m = a == kk
                    # element 0 = count, 1.. = Σvec → one reduce for both
                    out.append((int(kk),
                                [float(m.sum())] + X[m].sum(0).tolist()))
                yield pd.DataFrame(out, columns=["cluster", "s"])

        red = (
            train.mapInPandas(partials, "cluster int, s array<double>")
            .select("cluster", F.posexplode("s").alias("j", "v"))
            .groupBy("cluster", "j").agg(F.sum("v").alias("v"))
            .collect()
        )
        sums = np.zeros((k, dim + 1))
        for r in red:
            sums[r["cluster"], r["j"]] = r["v"]
        nonempty = sums[:, 0] > 0
        c[nonempty] = sums[nonempty, 1:] / sums[nonempty, :1]
    return c


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Append the nearest-centroid id as ``cluster`` (one generated-SQL
    expression — the old Column build cost k×dim py4j round trips; at
    scale this is the partition/bucket key for the inverted lists).  The
    k-wide distance bank stays HOF text (fold-bank note above), and the
    distance array is materialized as its own projection so argmin's two
    references don't recompute the k×dim folds."""
    from sparrow_ipc_spark.functions.util import ident

    arr = "array(" + ", ".join(
        _sqd_hof_sql(ident(vec_col), c) for c in centroids) + ")"
    return (
        df.withColumn("_dists", F.expr(arr))
        .withColumn("cluster", F.expr(
            "CAST(array_position(_dists, array_min(_dists)) - 1 AS INT)"))
        .drop("_dists")
    )


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 16, n_probe: int = 4, seed: int = 42,
             vec_col: str = "embedding", id_col: str = "vec_id",
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` inverted lists nearest
    the query, exact cosine re-rank inside them — the classic IVF-Flat
    scale path (brute force = ``cosine_topk``; RHP-LSH = ``ann_topk``)."""
    c = centroids if centroids is not None else ivf_centroids(
        df, n_centroids, seed, vec_col=vec_col, id_col=id_col)
    q = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((c - q[None]) ** 2).sum(-1), kind="stable")
    probes = [int(i) for i in order[: max(1, n_probe)]]
    assigned = ivf_assign(df, c, vec_col)
    cand = assigned.where(F.col("cluster").isin(probes))
    return cosine_topk(cand.drop("cluster"), query_vec, k, vec_col, id_col)


def pairwise_cosine_dedup(df: DataFrame, threshold: float = 0.95, n_planes: int = 12,
                          seed: int = 42, vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Embedding near-duplicate pairs: LSH bucket join (no O(n²) scan),
    exact cosine within buckets, keep pairs ≥ threshold.

    The pair cosine is the original zip_with fold as generated-SQL text
    (fold-bank note above: HOF text measured fastest in the join stage).
    Per-row norms are computed ONCE before the join (the fold order is
    unchanged, so the value is bit-identical to folding them per pair);
    the per-pair product keeps the original float×float multiply so
    every admitted pair's cosine matches the previous implementation bit
    for bit."""
    from sparrow_ipc_spark.functions.util import ident, spread

    first = df.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"]) if first else 0
    b = rhp_buckets(spread(df), dim, n_planes, seed, vec_col).withColumn(
        "_nrm", F.expr(_norm_hof_sql(ident(vec_col))))
    a = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                 F.col("_nrm").alias("na"), "bucket")
    c = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                 F.col("_nrm").alias("nb"), "bucket")
    # try_divide: zero vectors score NULL (dropped by the >= threshold
    # filter) instead of throwing under ANSI mode
    # join-output fold: HOF text (measured: the interpreted zip_with fold
    # beats a 64-term chain in the join stage 6-8×, and a chain risks the
    # codegen method limit) — the exact original _dot semantics
    cos = F.expr("try_divide(aggregate(zip_with(va, vb, (x, y) -> x * y),"
                 " 0.0D, (acc, x) -> acc + x), na * nb)")
    return (
        a.join(c, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def fixed_anchors(dim: int, k: int, seed: int = 7) -> np.ndarray:
    """Deterministic data-independent anchor points (seeded gaussian).
    They stand in for trained centroids wherever a cross-engine oracle
    needs the cluster geometry to be a pure function of (dim, k, seed) —
    the real pipeline trains with :func:`ivf_centroids_distributed`."""
    rng = np.random.default_rng([seed, 424_242])
    return rng.standard_normal((k, dim))


def fold_norm(vec) -> float:
    """Left-associative Euclidean norm (``s += v*v`` in order).  Used for
    anchor norms so the engine and a SQL oracle divide by the *same*
    double literal instead of numpy's pairwise-summed norm (whose last-bit
    difference could flip a rank tie)."""
    s = 0.0
    for v in vec:
        s += float(v) * float(v)
    return float(np.sqrt(s))


def semantic_dedup(df: DataFrame, centroids: np.ndarray, eps: float = 0.92,
                   vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) re-expressed as
    DataFrame ops: cluster every embedding to its nearest centroid, then
    inside each cluster greedily keep the farthest-from-centroid item
    first (the paper's keep rule; ties by id) and drop anything whose
    cosine to an already-kept clustermate is ``>= eps``.

    Returns every input row as ``(id_col, cluster int, centroid_cos
    double(6), kept boolean)`` — survivors are ``kept = true``.

    Plan shape / 100 TB notes:

    * Assignment + centroid cosine are pure JVM fold expressions over
      broadcast-sized centroid literals — no shuffle, whole-stage codegen.
    * One shuffle on ``cluster`` feeds the rank window; the grouped pair
      scan reuses that partitioning (``groupBy(cluster)`` directly after
      the window), so the whole operator is a single linear plan — no
      persist, no self-join, no drop-attach join.
    * The within-cluster pair scan is a per-cluster Arrow-vectorized
      kernel (``applyInArrow``): each cluster's vectors land in one numpy
      matrix and all O(|cluster|²) pair dots are computed as ``dim``
      rank-1 updates — ``acc += outer(X[:, d], X[:, d])`` — which is the
      SAME left-associative CAST-to-DOUBLE product fold the SQL
      ``aggregate(zip_with(...))`` evaluated per pair (term order and
      double widening identical, so every admitted pair is bit-identical
      to the round-6 HOF fold AND to the DuckDB oracle).  Measured at the
      bench scale (4k rows, 4 clusters, ~2M pairs): the interpreted HOF
      fold paid ~3 s in the join stage; the kernel computes the same
      pairs in milliseconds.
    * The pair scan is the paper's own O(|cluster|²/k) cost: the scale
      knob is the centroid count (SemDeDup uses ~50k clusters for 10^8
      items, keeping clusters at ~10^3-10^4 rows ⇒ ≥50k independent
      tasks).  Train centroids with :func:`ivf_centroids_distributed` and
      size ``k ≈ N / 5k``; a pathologically hot cluster should be
      re-split (train a sub-quantizer on it), since the drop rule needs
      all pairs.  Kernel memory is bounded at |cluster| × (dim + tile)
      doubles per task (the pair matrix is tiled, tile = 4096 columns).
    * ``try_divide`` + NULLS LAST: a zero vector ranks last and can never
      drop (NULL cosine fails ``>= eps``) instead of crashing ANSI mode.
      The kernel reproduces Spark's exact predicate semantics: divisor ==
      0 ⇒ NULL ⇒ no drop; NaN cosine with nonzero divisor ⇒ drop (Spark
      orders NaN above every double); NULL vectors, vectors with NULL
      elements, and length-mismatched pairs never satisfy the fold
      (zip_with null-propagation) — the kernel pairs only same-length
      fully-non-null vectors and skips a NULL cluster key entirely (a
      NULL cluster never equi-joined before).
    * Round-6: the assignment plan is generated SQL (the Column build of
      k×dim literal folds cost seconds of py4j), the centroid cosine is a
      lazy CASE over the winning position, the scan is spread past a
      one-file input, and the pair stage moved from an interpreted
      per-pair HOF fold to the Arrow kernel above.
    """
    import pyarrow as pa

    from sparrow_ipc_spark.functions.util import ident, spread

    spark = df.sparkSession
    c = np.asarray(centroids, dtype=np.float64)
    v, i = ident(vec_col), ident(id_col)
    # k-wide fold banks stay HOF text (fold-bank note above).  The
    # centroid cosine is only ever read for the WINNING cluster, so it is
    # a lazy CASE over _pos — one dot fold per row instead of k (each
    # branch is the identical expression the old k-wide array held at
    # that position, so the value is unchanged)
    dl = "array(" + ", ".join(_sqd_hof_sql("_vec", ck) for ck in c) + ")"
    ccos = "CASE _pos " + " ".join(
        f"WHEN {j + 1} THEN try_divide({_dot_hof_sql('_vec', ck)},"
        f" _vnrm * {_dlit(fold_norm(ck))})"
        for j, ck in enumerate(c)) + " END"
    spread(df).createOrReplaceTempView("_sipc_sem_in")
    rk = spark.sql(f"""
      WITH v0 AS (
        SELECT {i} AS _id, {v} AS _vec, {_norm_hof_sql(v)} AS _vnrm
        FROM _sipc_sem_in
      ), feat AS (
        SELECT _id, _vec, _vnrm, {dl} AS _dl
        FROM v0
      ), asg AS (
        SELECT _id, _vec, CAST(array_position(_dl, array_min(_dl)) AS INT) AS _pos,
               _vnrm
        FROM feat
      ), lab AS (
        SELECT _id, _vec, _pos - 1 AS cluster, {ccos} AS c_cos, _vnrm AS nrm
        FROM asg
      )
      SELECT _id, _vec, cluster, c_cos, nrm,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY c_cos ASC NULLS LAST, _id ASC) AS rnk
      FROM lab""")
    eps_d = float(eps)
    tile = 4096

    def _cluster_pairs(tbl: pa.Table) -> pa.Table:
        t = tbl.sort_by([("rnk", "ascending")]).combine_chunks()
        n = t.num_rows
        kept = np.ones(n, dtype=bool)
        cl = t.column("cluster")
        if n > 1 and cl.null_count != n:
            vecs = t.column("_vec").to_pylist()
            nrm = np.array(
                [x if x is not None else np.nan
                 for x in t.column("nrm").to_pylist()], dtype=np.float64)
            # a vector participates only if present with no NULL elements;
            # pairs form only within one length (zip_with null-propagation)
            by_len: dict[int, list[int]] = {}
            for j, vec in enumerate(vecs):
                if vec is not None and None not in vec:
                    by_len.setdefault(len(vec), []).append(j)
            for _ln, idxs in by_len.items():
                m = len(idxs)
                if m < 2 or _ln == 0:
                    continue
                X = np.array([vecs[j] for j in idxs], dtype=np.float64)
                nr = nrm[idxs]
                pos = np.arange(m)
                for s in range(1, m, tile):
                    e = min(m, s + tile)
                    acc = np.zeros((m, e - s))
                    for d in range(_ln):
                        acc += np.outer(X[:, d], X[s:e, d])
                    denom = np.outer(nr, nr[s:e])
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / denom
                        hit = ((cos >= eps_d) | np.isnan(cos)) & (denom != 0.0)
                    hit &= pos[:, None] < pos[None, s:e]  # rnk_a < rnk_b
                    drop = hit.any(axis=0)
                    kept[np.asarray(idxs)[s:e][drop]] = False
        return pa.table(
            {"_id": t.column("_id"), "cluster": cl,
             "c_cos": t.column("c_cos"), "kept": pa.array(kept)})

    id_dt = rk.schema["_id"].dataType.simpleString()
    out = (
        rk.select("_id", "_vec", "cluster", "c_cos", "nrm", "rnk")
        .groupBy("cluster")
        .applyInArrow(_cluster_pairs,
                      schema=f"_id {id_dt}, cluster int, c_cos double, kept boolean")
    )
    return out.select(
        F.col("_id").alias(id_col), F.col("cluster"),
        F.round("c_cos", 6).alias("centroid_cos"), F.col("kept"))
