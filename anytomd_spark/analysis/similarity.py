"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k: broadcast the (small) query set, Arrow-batched
  numpy cosine, window top-k — the exact baseline.
* LSH-bucketed ANN: sign-random-projection signatures bucket the corpus;
  candidates = same-bucket rows; exact cosine re-ranks. The hyperplanes
  are a deterministic function of the seed, materialized as literal
  arrays (no Python at execution time).

Scale notes: brute force is O(corpus × queries) — fine when the query set
broadcasts; the LSH path turns that into a bucket-local join whose fan-in
is controlled by ``n_planes`` (expected bucket size = corpus / 2^planes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from anytomd_spark.analysis.dedup import _bucket_pairs


def _rows(col: "pd.Series") -> "np.ndarray":
    """Arrow list column -> (n, dim) float64 matrix (fixed-dim vectors).

    Raises TypeError/ValueError on null or ragged rows — callers catch
    and take a per-row fallback so one malformed embedding degrades that
    ROW (null result), never the stage (the HOF forms it replaced also
    degraded per-row)."""
    return np.array(col.tolist(), dtype=np.float64)


def _vec_or_none(v, dim: int | None = None) -> "np.ndarray | None":
    """Row fallback coercion: a conforming vector as float64, else None
    (null row, wrong length, non-sequence, or null/non-numeric
    elements)."""
    try:
        if v is None or (dim is not None and len(v) != dim):
            return None
        return np.asarray(v, dtype=np.float64)
    except (TypeError, ValueError):
        return None


@pandas_udf(DoubleType())
def _cosine_batch(pa: "pd.Series", pb: "pd.Series") -> "pd.Series":
    if not len(pa):
        return pd.Series([], dtype="float64")
    try:
        ma, mb = _rows(pa), _rows(pb)
        num = (ma * mb).sum(axis=1)
        den = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1))
        return pd.Series(num / den)
    except (TypeError, ValueError):
        # null / ragged / mismatched row in the batch: per-row fallback,
        # None for the bad rows (null cosine, like the HOF form)
        out = []
        for a, b in zip(pa.tolist(), pb.tolist()):
            va = _vec_or_none(a)
            vb = _vec_or_none(b)
            if va is None or vb is None or len(va) != len(vb):
                out.append(None)
                continue
            out.append(float(
                (va * vb).sum()
                / (np.sqrt((va * va).sum()) * np.sqrt((vb * vb).sum()))
            ))
        return pd.Series(out, dtype=object)


def cosine_np(a, b):
    """Arrow-batched exact cosine. One JVM<->Python hop per batch, numpy
    row ops inside — measured 1.8x the interpreted HOF form (``cosine``,
    kept as the parity oracle in tests/test_analysis.py) on a
    100k-pair re-rank at local[1] (the stage's marginal CPU gain is
    larger; the measurement includes the join/write floor). It is also
    the CLOSER match to the DuckDB oracles, which cast float->double
    before multiplying (this form agrees to ~1e-15; the HOF multiplies
    the raw float32 values first and lands ~1e-8 away — parity-tested on
    the real tables, both far inside the 6-decimal gate rounding)."""
    return _cosine_batch(a, b)


def srp_signatures_np(vec_col, tables: list) -> "F.Column":
    """All SRP table signatures in ONE Arrow hop: array<long>, entry t =
    the n_planes-bit signature under table t's hyperplanes (bit i = 1
    iff v . plane_i >= 0, weight 1<<i — same convention as the all-JVM
    ``srp_signature`` in tests/test_analysis.py, parity-tested: 0/2000
    mismatches on the real vectors; parity scope is FINITE vectors — on a NaN component numpy's
    nan>=0 is False (bit 0) where Spark's NaN-ordering makes the HOF bit
    1, so mixed JVM/Arrow deployments must not persist signatures of
    NaN-bearing data). The HOF form pays n_tables*n_planes interpreted 64-step
    folds per row; here it is one (n, dim) @ (dim, tables*planes) matmul
    per batch — measured 3.1x on the signature stage at local[1], and
    the at-scale win grows with corpus size (the matmul is the corpus
    side's only per-row work)."""
    n_tables = len(tables)
    n_planes = len(tables[0])
    planes_all = np.asarray(
        np.concatenate([np.asarray(t, dtype=np.float64) for t in tables]),
        dtype=np.float64,
    )  # (n_tables * n_planes, dim)
    weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _sigs(col: "pd.Series") -> "pd.Series":
        if not len(col):
            return pd.Series([], dtype=object)
        try:
            proj = _rows(col) @ planes_all.T
            bits = (proj >= 0).astype(np.int64).reshape(
                len(col), n_tables, n_planes
            )
            return pd.Series((bits * weights).sum(axis=2).tolist())
        except (TypeError, ValueError):
            # null/ragged row: all-zero signatures for it (the HOF form's
            # null-dot bits resolved to 0 -> signature 0), fast path for
            # the conforming rows
            zero = [0] * n_tables
            out = []
            for v in col.tolist():
                vec = _vec_or_none(v, planes_all.shape[1])
                if vec is None:
                    out.append(zero)
                    continue
                p = vec @ planes_all.T
                b = (p >= 0).astype(np.int64).reshape(n_tables, n_planes)
                out.append((b * weights).sum(axis=1).tolist())
            return pd.Series(out, dtype=object)

    return _sigs(vec_col)


def _ivf_dists_np(vec_col, cents: "np.ndarray") -> "F.Column":
    """Per-centroid squared-distance surrogate ||c||^2 - 2 v.c as
    array<double> (the common ||v||^2 term is dropped), one Arrow hop —
    replaces n_clusters interpreted fold-dots per row (the all-JVM
    ``_cluster_expr`` parity oracle in tests/test_analysis.py)."""
    cents64 = np.asarray(cents, dtype=np.float64)
    c2 = (cents64 * cents64).sum(axis=1)

    @pandas_udf(ArrayType(DoubleType()))
    def _dists(col: "pd.Series") -> "pd.Series":
        if not len(col):
            return pd.Series([], dtype=object)
        try:
            d = c2[None, :] - 2.0 * (_rows(col) @ cents64.T)
            return pd.Series(d.tolist())
        except (TypeError, ValueError):
            # null/ragged row: null distance array (-> null cluster /
            # no probe rows, i.e. that row drops out), fast path for the
            # conforming rows
            out = []
            for v in col.tolist():
                vec = _vec_or_none(v, cents64.shape[1])
                if vec is None:
                    out.append(None)
                    continue
                out.append((c2 - 2.0 * (vec @ cents64.T)).tolist())
            return pd.Series(out, dtype=object)

    return _dists(vec_col)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Query side is broadcast."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            cosine_np(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
        # degraded-row contract, shared with the ANN operators: pairs
        # whose cosine is undefined (null/ragged embedding) are EXCLUDED
        # rather than emitted with a null score — so exact and
        # approximate top-k agree on per-query coverage
        .filter(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    n_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: union of same-bucket candidates over ``n_tables``
    independent SRP tables, re-ranked by exact cosine.

    ``n_probes`` > 0 enables multiprobe LSH (Lv et al., VLDB'07 idea in
    its simplest single-bit-flip form): each QUERY additionally probes
    the ``n_probes`` buckets at Hamming distance 1 from its signature
    (flipping one plane's bit), trading a small candidate-set increase
    for recall WITHOUT more signature tables — at scale, extra probes
    are rows on the tiny broadcast query side, while extra tables would
    re-explode the whole corpus."""
    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def with_buckets(df: DataFrame, prefix: str, probes: int) -> DataFrame:
        # all table signatures in one Arrow hop; bucket XOR probes are
        # cheap JVM bitwise ops on the resulting longs. Only (id, table,
        # bucket) flows through the explode — the earlier form also
        # carried the embedding through the n_tables*(1+probes) fan-out.
        sigs = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            srp_signatures_np(F.col(vec_col), tables).alias("sigs"),
        )
        entries = []
        for t in range(n_tables):
            sig = F.col("sigs")[t]
            entries.append(F.struct(
                F.lit(t).alias("table"), sig.alias("bucket")))
            for p in range(min(probes, n_planes)):
                entries.append(F.struct(
                    F.lit(t).alias("table"),
                    sig.bitwiseXOR(F.lit(1 << p).cast("long")).alias("bucket"),
                ))
        return sigs.select(
            f"{prefix}_id",
            F.explode(F.array(*entries)).alias("tb"),
        ).select(f"{prefix}_id", "tb.table", "tb.bucket")

    cb = with_buckets(corpus, "cand", probes=0)
    qb = with_buckets(queries, "query", probes=n_probes)
    # dedup candidate ids BEFORE touching vectors: a distinct over the
    # full embedding arrays would shuffle/compare fat rows; (query_id,
    # cand_id) is 16 bytes
    cand_ids = (
        cb.select("table", "bucket", "cand_id")
        .join(
            F.broadcast(qb.select("table", "bucket", "query_id")),
            ["table", "bucket"],
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    cvecs = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = (
        cand_ids.join(cvecs, "cand_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id", "cand_id",
            cosine_np(F.col("query_vec"), F.col("cand_vec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_centroids(
    vectors: "np.ndarray",
    n_clusters: int = 16,
    n_iters: int = 10,
    seed: int = 11,
) -> "np.ndarray":
    """Deterministic Lloyd k-means over a bounded sample (numpy, seeded).

    Runs driver-side on at most a few thousand sampled vectors — the
    standard IVF training step; at 100 TB the sample is still tiny and
    the centroid table broadcasts as literals."""
    rng = np.random.default_rng(seed)
    n = len(vectors)
    cents = vectors[rng.choice(n, size=min(n_clusters, n), replace=False)]
    for _ in range(n_iters):
        # ||c||^2 - 2 v.c (the ||v||^2 term is constant per row): one
        # (n, k) GEMM instead of the (n, k, dim) broadcast-subtract,
        # whose temporaries cost ~1.7 GB/iteration at k=800 — the
        # k∝corpus operating point semantic_dedup uses
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (
            vectors @ cents.T
        )
        assign = d2.argmin(axis=1)
        new = np.empty_like(cents)
        for c in range(len(cents)):
            members = vectors[assign == c]
            new[c] = members.mean(axis=0) if len(members) else cents[c]
        if np.allclose(new, cents):
            cents = new
            break
        cents = new
    return cents


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    train_sample: int = 4096,
    seed: int = 11,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer partitions the
    corpus into inverted lists; each query probes its ``n_probe``
    nearest lists and exact cosine re-ranks the candidates.

    Scale shape: assignment is map-side expression work; the only
    shuffle is the candidate join keyed by cluster id (fan-in bounded by
    corpus/n_clusters x n_probe). Centroids are trained on a bounded,
    deterministic sample (lowest ids) so runs are reproducible."""
    spark = corpus.sparkSession
    sample = (
        corpus.orderBy(id_col).limit(train_sample)
        .select(vec_col).toPandas()[vec_col]
    )
    vectors = np.asarray([np.asarray(v, dtype=np.float64) for v in sample])
    cents = ivf_centroids(vectors, n_clusters=n_clusters, seed=seed)

    # assignment: one Arrow hop for the distance array, argmin JVM-side
    # with the same first-of-min tie-break the expression form used
    # (two-step projection so the UDF column is evaluated once)
    c_assigned = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cand_vec"),
        _ivf_dists_np(F.col(vec_col), cents).alias("dists"),
    ).select(
        "cand_id", "cand_vec",
        F.array_position(
            F.col("dists"), F.array_min("dists")
        ).alias("cluster"),
    )
    # per query: rank all clusters by distance, keep the n_probe nearest
    q_dists = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        F.posexplode(_ivf_dists_np(F.col(vec_col), cents)).alias(
            "pos", "dist"
        ),
    ).select(
        "query_id", "query_vec",
        (F.col("pos") + 1).alias("cluster"), "dist",
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cluster"))
    probes = (
        q_dists.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "query_vec", "cluster")
    )
    scored = (
        c_assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            cosine_np(F.col("query_vec"), F.col("cand_vec")).alias("cos_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def _assign_with_cent_sim(vec_col, cents: "np.ndarray") -> "F.Column":
    """One Arrow hop per batch: nearest-centroid assignment (first-of-
    min over the ||c||^2 - 2 v.c surrogate, the `_ivf_dists_np`
    convention) AND cosine to the chosen centroid, as
    struct(cluster, cent_sim). The centroids travel in the kernel
    closure, NOT as literal expressions — an element_at over a literal
    k x dim array costs Catalyst k*dim expression nodes, which measured
    as minutes of planning at k=800 (the k∝corpus operating point)
    where this kernel is flat in k. Degraded rows (null/ragged) yield
    null struct fields."""
    cents64 = np.asarray(cents, dtype=np.float64)
    c2 = (cents64 * cents64).sum(axis=1)
    cnorm = np.sqrt(c2)

    @pandas_udf("cluster long, cent_sim double")
    def _assign(col: "pd.Series") -> "pd.DataFrame":
        if not len(col):
            return pd.DataFrame({"cluster": [], "cent_sim": []})
        try:
            m = _rows(col)
            d = c2[None, :] - 2.0 * (m @ cents64.T)
            cl = d.argmin(axis=1)
            chosen = cents64[cl]
            cs = (m * chosen).sum(axis=1) / (
                np.sqrt((m * m).sum(axis=1)) * cnorm[cl]
            )
            return pd.DataFrame({"cluster": cl + 1, "cent_sim": cs})
        except (TypeError, ValueError):
            cls, sims = [], []
            for v in col.tolist():
                vec = _vec_or_none(v, cents64.shape[1])
                if vec is None:
                    cls.append(None)
                    sims.append(None)
                    continue
                d = c2 - 2.0 * (vec @ cents64.T)
                ci = int(d.argmin())
                c = cents64[ci]
                cls.append(ci + 1)
                sims.append(float(
                    (vec * c).sum()
                    / (np.sqrt((vec * vec).sum()) * cnorm[ci])
                ))
            return pd.DataFrame({"cluster": cls, "cent_sim": sims})

    return _assign(vec_col)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    train_sample: int = 4096,
    seed: int = 11,
    max_cluster: int = 4096,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal by k-means clustering the embedding space and
    deduplicating WITHIN clusters only — the cluster structure turns the
    corpus-quadratic similarity problem into k cluster-local ones.

    Policy (the paper's best-performing variant): within a cluster,
    members are ordered by ascending cosine similarity to their centroid
    (ties by id) — the LEAST-typical member of each duplicate group is
    kept — and a member is a duplicate iff its cosine to ANY
    earlier-ordered cluster member reaches ``threshold`` (the paper's
    triangular max-similarity test; a member can be dropped because of
    an earlier member that was itself dropped).

    Plan shape for 100 TB: centroids train driver-side on a bounded
    deterministic sample (the IVF pattern) and travel in kernel
    closures — never as literal expressions (k*dim literal centroid
    arrays measured as MINUTES of Catalyst planning at k=800);
    assignment + centroid cosine are ONE Arrow pass
    (:func:`_assign_with_cent_sim`); then ONE shuffle groups each
    cluster and a cluster-local GEMM kernel (``applyInPandas``, the
    paper's own physical shape) computes the pairwise cosine matrix and
    the keep-order triangular test in place. Arrow traffic is
    CORPUS-sized — each vector ships once into its group — never
    PAIR-sized (the pair-join formulation this replaced shipped both
    vectors per candidate pair: ~25 GB vs ~200 MB at 200k vectors, and
    measured >100x slower end-to-end). ``max_cluster`` bounds the
    per-task similarity matrix (134 MB worst case at the 4096 default);
    clusters above it skip pair-testing and say so via ``capped``. Rows
    with null/ragged embeddings are EXCLUDED (the family's degraded-row
    contract, see :func:`brute_force_topk`).

    THE scale knob is k, not the cap: within-cluster pair work is
    quadratic in cluster SIZE, so hold cluster size constant by scaling
    ``n_clusters`` with the corpus — pair count then grows linearly.
    Measured after the GEMM rewrite (local[32], steady samples): 2k
    vectors/k8 0.9 s, 20k/k80 1.2 s, 200k/k800 3.4 s — ~2.8x per
    decade, floor-dominated. Pass ``target_cluster_size`` to derive k
    from the corpus count (one scalar job), the way the paper sizes 50k
    clusters for LAION; ``max_cluster`` stays the degenerate-cluster
    guard, not the sizing mechanism.

    Returns (id_col, cluster, cent_sim, is_dup, capped) — survivors are
    the ``is_dup = false`` rows; ``capped`` marks members of clusters
    that exceeded ``max_cluster`` and were therefore never pair-tested
    (the no-silent-caps contract: a dropped cluster reads as dropped,
    not as clean).
    """
    if target_cluster_size is not None:
        n_clusters = max(
            1, -(-corpus.count() // target_cluster_size)  # ceil div
        )
    sample = (
        corpus.orderBy(id_col).limit(train_sample)
        .select(vec_col).toPandas()[vec_col]
    )
    # degraded rows (null/ragged) are excluded from TRAINING too — the
    # dim is fixed by the first conforming vector in id order (r6
    # advice: an all-null/empty sample used to escape as a bare
    # StopIteration)
    dim = next((len(v) for v in sample if v is not None), None)
    if dim is None:
        raise ValueError(
            "semantic_dedup: no conforming embeddings in the training "
            f"sample (sampled {len(sample)} rows from {vec_col!r})"
        )
    clean = [w for w in (_vec_or_none(v, dim) for v in sample)
             if w is not None]
    vectors = np.asarray(clean, dtype=np.float64)
    cents = ivf_centroids(vectors, n_clusters=n_clusters, seed=seed)

    assigned = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        _assign_with_cent_sim(F.col(vec_col), cents).alias("a"),
    ).select(
        "id", "vec", F.col("a.cluster").alias("cluster"),
        F.col("a.cent_sim").alias("cent_sim"),
    ).filter(F.col("cluster").isNotNull() & F.col("cent_sim").isNotNull())

    # cluster-local GEMM (the paper's own physical shape): ONE
    # applyInPandas group kernel per cluster computes the full pairwise
    # cosine matrix (V @ V.T over the cluster's <= max_cluster vectors)
    # and applies the keep-order triangular test in-place. Arrow traffic
    # is CORPUS-sized (each vector ships once into its group), not
    # PAIR-sized — the earlier pair-join formulation shipped both
    # vectors per candidate pair (~25 GB at 200k vectors / 250-member
    # clusters vs ~200 MB here, >10x wall-clock on that shape). The
    # max_cluster cap also bounds the kernel's similarity matrix
    # (4096^2 doubles = 134 MB worst case per task).
    thr = float(threshold)
    cap = int(max_cluster)

    def _cluster_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["cent_sim", "id"]).reset_index(drop=True)
        n = len(pdf)
        if n > cap:
            return pd.DataFrame({
                "id": pdf["id"], "cluster": pdf["cluster"],
                "cent_sim": pdf["cent_sim"],
                "is_dup": np.zeros(n, dtype=bool),
                "capped": np.ones(n, dtype=bool),
            })
        dup = np.zeros(n, dtype=bool)
        if n >= 2:
            v = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
            norms = np.sqrt((v * v).sum(axis=1))
            sim = (v @ v.T) / np.outer(norms, norms)
            # member j is a duplicate iff sim to ANY earlier-ordered
            # member i < j reaches the threshold (strict upper triangle)
            dup = np.triu(sim >= thr, k=1).any(axis=0)
        return pd.DataFrame({
            "id": pdf["id"], "cluster": pdf["cluster"],
            "cent_sim": pdf["cent_sim"], "is_dup": dup,
            "capped": np.zeros(n, dtype=bool),
        })

    id_type = corpus.schema[id_col].dataType.simpleString()
    out = assigned.groupBy("cluster").applyInPandas(
        _cluster_kernel,
        f"id {id_type}, cluster long, cent_sim double, is_dup boolean, "
        "capped boolean",
    )
    return out.select(
        F.col("id").alias(id_col), "cluster", "cent_sim", "is_dup",
        "capped",
    )


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Quality metric for the ANN operators: per-query |approx ∩ exact| / k,
    averaged over the query set. ``exact`` is :func:`brute_force_topk`'s
    output, ``approx`` any ANN top-k with the same (query_id, cand_id)
    columns. Returns one row (n_queries, recall_at_k). Queries whose
    approximate result is empty count as recall 0 — missing buckets are
    a quality failure, not a denominator trick."""
    hits = exact.select("query_id", "cand_id").join(
        approx.select("query_id", "cand_id"), ["query_id", "cand_id"]
    )
    per_q = (
        exact.select("query_id").distinct()
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id", "left",
        )
        .select(F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg(F.col("n_hit") / F.lit(float(k))), 6).alias("recall_at_k"),
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 7,
    max_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via one SRP bucketing pass.

    Candidates come from the same capped-bucket pair unfolding the text
    LSH uses (no self-join): one degenerate SRP bucket (all-zero or
    templated vectors) would otherwise make the bucket join O(k^2) —
    ``max_bucket`` drops such buckets instead. Identical vectors always
    share a bucket, so exact-duplicate recall is unaffected by plane
    choice."""
    planes = _hyperplanes(dim, n_planes, seed)
    sigs = corpus.select(
        F.col(id_col),
        srp_signatures_np(F.col(vec_col), [planes])[0].alias("bucket"),
    )
    cand = _bucket_pairs(sigs, ["bucket"], id_col, max_bucket)
    va = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("vec_a"))
    vb = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vec_b"))
    return (
        cand.join(va, "a").join(vb, "b")
        .select(
            "a", "b",
            cosine_np(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
