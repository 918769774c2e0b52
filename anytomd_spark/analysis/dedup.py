"""Deduplication operators for the documents table.

All four families run JVM-side with built-in functions (no Python UDFs):

* exact:      md5 hash-groupBy keep-first
* MinHash+LSH: word shingles -> H minhashes -> B bands -> band-hash
               bucket self-join -> candidate pairs (optionally verified
               with exact n-gram Jaccard)
* SimHash:    64-bit token-hash bit-majority signature, map-side only
* n-gram Jaccard: exact set overlap via array_intersect/array_union

Scale notes: the LSH bucket join shuffles on (band, band_hash) — band
hashes are near-uniform, so the join is skew-free by construction; a
``spark.sql.shuffle.partitions`` sized to the cluster handles 100 TB. The
signature computation itself is embarrassingly parallel map work inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate statistics."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col(text_col)))).alias("n_dups"),
    )


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    with_hash: bool = False,
) -> DataFrame:
    """Survivor id + member count per exact-content group: one
    hash-groupBy yields BOTH the survivor set (``id_col``) and the
    duplicate statistics (``n_dups = sum(group_size - 1)``), so callers
    that need stats-plus-survivors pay a single shuffle instead of two
    separate jobs. ``with_hash`` additionally exposes the group's
    content hash (the groupBy key — free)."""
    out = (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
    )
    if with_hash:
        return out.select(id_col, "group_size", "content_hash")
    return out.select(id_col, "group_size")


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
) -> DataFrame:
    """C4-style exact LINE deduplication (Raffel et al. 2020 §2.2's
    repeated-span discard, at line granularity): across the WHOLE
    corpus, each distinct line of >= ``min_chars`` characters survives
    only at its first occurrence — the minimum (doc, position) — so
    boilerplate repeated across pages (nav text, cookie banners, license
    headers) is kept exactly once. Lines shorter than ``min_chars``
    always survive: deduplicating "}", "-", or "" would shred document
    structure for no dedup value.

    Returns one row per input document: (id_col, n_kept,
    text_dedup) — the document's surviving line count and its
    reconstructed text (kept lines joined by newline, original order).
    Documents whose every line was deduplicated away come back with
    n_kept = 0 and empty text; null-text documents come back the same
    way (nothing to keep).

    Scale shape for 10^12 turns: the first-occurrence winner per line
    is ONE min(struct(id, pos)) aggregate keyed on the line — map-side
    partial combining makes it skew-safe even when one boilerplate line
    occurs 10^9 times (each task emits one candidate row for it), where
    the naive row_number window would put the whole group through one
    task. The winner table IS the surviving eligible-line set (no join
    back against the exploded corpus), and the reconstruct groupBy is
    bounded by document size. Two shuffles total, both on
    well-distributed keys."""
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "line_idx", "line"
        ),
    )
    eligible = lines.filter(F.length("line") >= min_chars)
    winners = (
        eligible.groupBy("line")
        .agg(F.min(F.struct(F.col("id"), F.col("line_idx"))).alias("w"))
        .select(F.col("w.id").alias("id"),
                F.col("w.line_idx").alias("line_idx"), "line")
    )
    kept = lines.filter(F.length("line") < min_chars).unionByName(winners)
    per_doc = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_dedup"),
    )
    return docs.select(F.col(id_col).alias("id")).join(
        per_doc, "id", "left"
    ).select(
        F.col("id").alias(id_col),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest id per exact-content group (deterministic survivor)."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    survivors = (
        docs.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(survivors.select(id_col), id_col, "left_semi")


def tokenize(text_col: str = "text"):
    """Whitespace tokens of the lowercased text (shared by all sketches)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def word_shingles(tokens_col, n: int = 3):
    """n-gram word shingles via sequence+transform (JVM-side, no UDF).

    ``tokens_col`` is bound ONCE as a lambda variable (1-element-array
    transform + element_at) instead of being inlined into the per-
    position lambda: higher-order functions evaluate interpreted with
    no common-subexpression elimination, so the inlined form re-ran the
    whole tokenize split() for EVERY shingle position — O(words^2)
    regex work per document (measured 8x on the decontaminate shape at
    sf0.1). The bound form evaluates the token expression once per row
    and the per-position lambda only slices the materialized array."""
    return F.element_at(
        F.transform(
            F.array(tokens_col),
            lambda toks: F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                ),
            ).otherwise(F.array(F.array_join(toks, " "))),
        ),
        1,
    )


def _seeded_rehash(seed: int):
    # NB: the lambda must take exactly one parameter — PySpark's transform()
    # binds a second parameter to the element index, so default-arg seed
    # binding (lambda s, i=i: ...) would silently salt by position instead.
    return lambda h: F.xxhash64(h, F.lit(seed))


def base_shingle_hashes(shingles_col):
    """Hash each shingle string once (the expensive step). Materialize this
    as a column before fanning out the lanes, so it's computed once."""
    return F.transform(shingles_col, lambda s: F.xxhash64(s))


def minhash_signature(base_hashes_col, num_hashes: int = 32):
    """H independent minhashes over pre-hashed shingles: each lane rehashes
    the 8-byte base hash with a distinct seed — an order of magnitude
    cheaper than H string hashes and statistically equivalent for a
    distinct-preserving base hash."""
    return F.array(*[
        F.array_min(F.transform(base_hashes_col, _seeded_rehash(i)))
        for i in range(num_hashes)
    ])


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate candidate pairs (a < b) from banded MinHash-LSH.

    Buckets larger than ``max_bucket`` are dropped: a band value shared by
    that many documents is degenerate (boilerplate), and emitting its
    O(k^2) pairs would dominate the job — the standard web-dedup guard.
    Dropped buckets are observable via :func:`bucket_stats_from_banded`
    over the :func:`minhash_banded` table.
    """
    banded = _banded(docs, id_col, text_col, num_hashes, bands, shingle_n)
    return _bucket_pairs(banded, ["band", "band_hash"], id_col, max_bucket)


def _banded(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, band_hash) rows: minhash signature sliced into bands,
    each band hashed to one bucket key — the single banding code path
    feeding both candidate generation and bucket observability."""
    rows_per_band = num_hashes // bands
    sig = (
        docs.select(
            F.col(id_col),
            base_shingle_hashes(
                word_shingles(tokenize(text_col), shingle_n)
            ).alias("base"),
        )
        .select(F.col(id_col), minhash_signature(F.col("base"), num_hashes).alias("sig"))
    )
    return sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")


def _bucket_pairs(
    keyed: DataFrame, key_cols: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Distinct within-bucket id pairs (a < b) WITHOUT a self-join:
    one groupBy collects each bucket's ids, pair combinations unfold
    JVM-side via nested transform/flatten. Buckets of size 1 emit nothing;
    buckets larger than ``max_bucket`` are dropped (degenerate keys)."""
    ids = F.array_sort(F.collect_list(id_col))
    grouped = (
        keyed.groupBy(*key_cols)
        .agg(ids.alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arrays).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def minhash_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Public surface for the banded signature table (id, band, band_hash):
    persistable as the oracle-checkable intermediate — everything
    downstream of it (bucket stats, candidate pairs) is hash-free
    relational logic an independent engine can recompute."""
    return _banded(docs, id_col, text_col, num_hashes, bands, shingle_n)


def bucket_stats_from_banded(banded: DataFrame) -> DataFrame:
    """Stats stage over a (id, band, band_hash) table (see minhash_banded)."""
    return (
        banded.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket_size"),
            F.round(F.avg("bucket_size"), 3).alias("avg_bucket_size"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage)."""
    # shingle ONLY the docs candidate pairs reference: the sets subtree
    # executes once per join side (Spark re-runs it under each alias),
    # so without this semi-join the verify stage tokenizes + shingles
    # the ENTIRE corpus twice even when candidates touch a few percent
    # of it — the at-scale cost of the stage must follow |candidates|,
    # not |corpus|. AQE broadcasts the id set when it is small.
    # one traversal of the pairs plan for the id set (a union of two
    # selects would re-execute it; pairs may itself be an expensive
    # candidate pipeline — see _verified_pairs)
    pair_ids = pairs.select(
        F.explode(F.array("a", "b")).alias(id_col)
    ).distinct()
    sets = (
        docs.join(pair_ids, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.array_distinct(
                word_shingles(tokenize(text_col), shingle_n)
            ).alias("sh"),
        )
    )
    a = sets.alias("sa")
    b = sets.alias("sb")
    joined = pairs.join(a, pairs["a"] == F.col(f"sa.{id_col}")).join(
        b, pairs["b"] == F.col(f"sb.{id_col}")
    )
    if threshold > 0.0:
        # size-ratio prefilter: J(A,B) = |A∩B|/|A∪B| ≤ min/max of the
        # set sizes, so any pair failing min ≥ t·max can never verify —
        # filtering on the two cheap size() exprs BEFORE the
        # array_intersect projection skips the per-pair set
        # intersection for size-skewed candidates (a 64-doc LSH bucket
        # of mixed 1 KB/100 KB docs is mostly such pairs)
        joined = joined.filter(
            F.least(F.size("sa.sh"), F.size("sb.sh"))
            >= F.lit(threshold) * F.greatest(F.size("sa.sh"), F.size("sb.sh"))
        )
    # both shingle arrays are distinct sets, so |A∪B| = |A|+|B|−|A∩B|:
    # one array_intersect per pair instead of intersect + union (the
    # union materializes a merged array only to take its size)
    inter = F.size(F.array_intersect("sa.sh", "sb.sh"))
    joined = joined.select(
        "a", "b",
        (inter / (F.size("sa.sh") + F.size("sb.sh") - inter)).alias("jaccard"),
    )
    return joined.filter(F.col("jaccard") >= threshold)


def _union_find_min(edges: list) -> list:
    """Exact driver-side connected components: union-find with path
    compression, then per-root minimum as the canonical cluster id.
    Used only below ``driver_threshold`` edges — microseconds where the
    iterative distributed plan pays seconds of per-round scheduling."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    roots: dict = {}
    nodes = set()
    for u, v in edges:
        nodes.update((u, v))
    for x in nodes:
        r = find(x)
        if r not in roots or x < roots[r]:
            roots[r] = x
    return [(x, roots[find(x)]) for x in sorted(nodes)]


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 50,
    driver_threshold: int = 250_000,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the canonical
    web-dedup step after LSH + verification: pairs only say "a ~ b";
    choosing ONE survivor per duplicate *cluster* needs the transitive
    closure (a~b, b~c => {a,b,c} is one group even when a~c was never
    emitted).

    Returns (id, cluster_id) for every id appearing in ``pairs``, where
    cluster_id = the minimum id of the component (the deterministic
    canonical survivor). Documents in no pair are implicitly their own
    singleton cluster — callers join with left_anti/coalesce semantics
    (see :func:`dedup_cluster_survivors`).

    Two execution paths, chosen by the verified-pair count (which is
    TINY relative to the corpus — near-dup rates are a few percent, so
    even a 10^12-doc corpus yields a pair set orders of magnitude
    smaller than its input):

    * **≤ driver_threshold edges** (default 250k ≈ a few MB): exact
      union-find on the driver. Bounded, deterministic, and replaces
      ~30 s of iterative-plan scheduling with microseconds — same
      justification as the bounded IVF training sample
      (similarity.py). The collect is capped by the threshold, never
      by the input size.
    * **above it**: alternating large-star / small-star (Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC'14) —
      the standard logarithmic-round MapReduce CC. Each round:

    * **large-star**: every node ``u`` hooks its strictly-larger
      neighbors onto ``min(Γ(u) ∪ {u})``;
    * **small-star**: every node ``u`` (edges oriented larger→smaller)
      hooks its smaller neighbors and itself onto the group minimum.

    Both halves preserve connectivity and monotonically flatten the
    forest; the fixpoint is a star per component centered on the
    component minimum, reached in O(log n) rounds — so a max_iters of
    50 covers ~2^50 nodes, unlike the O(diameter) min-label propagation
    this replaced (a 10^4-long chain of boilerplate near-dups — exactly
    what template farms produce — needed 10^4 rounds there and only
    ~14 here).

    Scale notes: one groupBy + one join per half-round, both keyed on
    near-unique node ids (skew-free); ``distinct`` bounds the edge
    multiset; ``localCheckpoint`` per round truncates the iterative
    lineage. Convergence = edge-set fixpoint, detected by a
    (count, sum(xxhash64(u,v))) multiset fingerprint — one tiny scalar
    aggregate per round that is **id-type-generic** (the previous
    ``sum(label)`` check returned NULL for string ids and declared
    instant "convergence"; xxhash64 hashes any atomic type).
    """
    # orient every edge larger→smaller; greatest/least are type-generic
    # (numeric or lexicographic), so ids may be strings
    edges = (
        pairs.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a long sum overflows under ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # node set from BOTH pair endpoints (not from the filtered edges):
    # a self-pair (a==a) or a null-paired id has no edge but is still a
    # singleton cluster — both execution paths must emit it (the driver
    # path used to derive nodes from edges only, silently dropping
    # edge-less nodes below the threshold while the distributed path
    # kept them)
    nodes = (
        pairs.select(F.col("a").alias("id"))
        .union(pairs.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    prev = _fingerprint(edges)
    # the node count guards the collect: self-pair-heavy inputs can have
    # few edges but many singleton nodes, and the driver path must stay
    # bounded by construction, never by assumption
    if prev[0] <= driver_threshold and nodes.count() <= 2 * driver_threshold:
        labeled = _union_find_min(
            [(r["u"], r["v"]) for r in edges.collect()]
        )
        seen = {x for x, _ in labeled}
        labeled.extend(
            (r["id"], r["id"]) for r in nodes.collect()
            if r["id"] not in seen
        )
        spark = pairs.sparkSession
        id_type = pairs.schema["a"].dataType
        from pyspark.sql.types import StructField, StructType

        return spark.createDataFrame(
            labeled,
            StructType([
                StructField("id", id_type),
                StructField("cluster_id", id_type),
            ]),
        )
    converged = False
    for _ in range(max_iters):
        # large-star: symmetric neighborhoods; each strictly-larger
        # neighbor v of u re-points at m = min(Γ(u) ∪ {u}). No distinct
        # here — small-star's round-closing distinct dedupes, and the
        # intermediate multiset is bounded by 2|E|
        neigh = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            neigh.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m"))
        )
        edges = (
            neigh.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: edges are larger→smaller, so min(Γ_small(u) ∪ {u})
        # = min(v); every small neighbor (≠ min) and u itself re-point
        # at it
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            edges.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        cur = _fingerprint(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # star-contraction halves forest height per round; hitting this
        # bound means ~2^max_iters nodes — surface loudly, never split
        # a component silently
        import warnings as _warnings

        _warnings.warn(
            f"dedup_clusters did not converge within max_iters="
            f"{max_iters}; components may be split across multiple "
            f"cluster_ids",
            RuntimeWarning,
            stacklevel=2,
        )
    # fixpoint edges form a star per component: u → component minimum.
    # Component minima themselves have no outgoing edge — they label
    # themselves via the left join.
    ptr = edges.select(F.col("u").alias("id"), F.col("v").alias("_root"))
    if not converged:
        # a non-fixpoint edge set may still hold several outgoing edges
        # per node; reduce to the minimum so the join below stays one
        # row per id (duplicate labels would double-count survivors)
        ptr = ptr.groupBy("id").agg(F.min("_root").alias("_root"))
    return nodes.join(ptr, "id", "left").select(
        "id", F.coalesce("_root", F.col("id")).alias("cluster_id")
    )


def dedup_cluster_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor set under cluster dedup: every document except cluster
    members that are not their cluster's canonical (minimum) id."""
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document, map-side only (no shuffle).

    Bit b of the signature is the sign of sum over tokens of
    (bit b of xxhash64(token)) * 2 - 1.

    Hybrid execution, chosen by measurement: tokenize + xxhash64 run
    JVM-side (one transform pass), then the 64 bit-majority sums run in
    an Arrow-batched numpy kernel. An all-JVM version would fold the
    hash array 64 times through ``aggregate()`` lambdas, which Spark
    evaluates interpreted (HOF lambdas are outside whole-stage codegen)
    at ~15 µs/step — the numpy matrix reduction is ~10× faster than
    interpreted HOF folds end-to-end and bit-identical.
    """
    from anytomd_spark.analysis._simhash_udf import simhash_from_hashes

    hashes = F.transform(tokenize(text_col), lambda t: F.xxhash64(t))
    return docs.select(
        F.col(id_col), simhash_from_hashes(hashes).alias("simhash")
    )


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash with block-permutation candidates:
    a pair within Hamming distance <= blocks-1 shares at least one of
    ``blocks`` 16-bit signature blocks (pigeonhole). Candidates come from
    capped-bucket pair unfolding (no self-join), then exact Hamming
    re-check via a signature lookup join.

    The signature table is persisted: it feeds the plan three times
    (blocking + both lookup sides) and recomputing the 64-bit fold per
    use tripled the query's CPU. At scale, sigs is (id, 8 bytes) — tiny
    next to the corpus — so MEMORY_AND_DISK is safe."""
    sigs = simhash64(docs, id_col, text_col)
    return simhash_pairs_from_sigs(
        sigs, id_col=id_col, max_hamming=max_hamming, blocks=blocks,
        max_bucket=max_bucket,
    )


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Blocking + pair unfold + exact Hamming recheck over a precomputed
    (id, simhash) signature table. Split out from :func:`simhash_near_dups`
    so a persisted signature parquet can feed BOTH this and an independent
    engine (DuckDB recomputes blocking and ``bit_count(xor)`` from the same
    table — value-level oracle for everything except the hash primitive)."""
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    width = 64 // blocks
    blocked = sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned("simhash", i * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("blk_val"),
            )
            for i in range(blocks)
        ])).alias("b"),
    ).select(id_col, "b.blk", "b.blk_val")
    cand = _bucket_pairs(blocked, ["blk", "blk_val"], id_col, max_bucket)
    sa = sigs.select(F.col(id_col).alias("a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("simhash").alias("sig_b"))
    joined = cand.join(sa, "a").join(sb, "b")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return joined.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --------------------------------------------------------------------------
# shared-span (substring) dedup — Lee et al. 2022, winnowed fingerprints
# --------------------------------------------------------------------------

def span_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnow-selected k-token span fingerprints per document — the
    Spark-native substitute for suffix-array substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL 2022): instead of materializing EVERY k-gram (a k-fold blowup a
    100 TB corpus cannot shuffle), each sliding window of ``window``
    consecutive k-gram hashes keeps only its minimum (Schleimer et
    al.'s winnowing, SIGMOD 2003). Guarantee: any token run of length
    >= k + window - 1 shared verbatim by two documents shares at least
    one SELECTED fingerprint, while the explode factor drops to
    ~n/window rows per document.

    All JVM-side (sequence/transform/slice/md5 under whole-stage
    codegen — md5, not xxhash64, so an independent engine can recompute
    the fingerprints). Returns (id, span_hash) distinct rows.
    """
    # IMPORTANT: the token array and the span-hash array are each
    # materialized as COLUMNS between selects. Referencing an
    # expression inside a higher-order-function lambda re-inlines (and
    # re-evaluates) it once per lambda invocation — Catalyst does not
    # CSE through lambda scopes — which made the winnow step re-hash
    # the whole O(m*k) span array once PER WINDOW: O(m^2 k) per
    # document, measured 190 s vs ~4 s for this stage at sf0.1
    base = docs.select(F.col(id_col), tokenize(text_col).alias("_toks"))
    toks = F.col("_toks")
    m0 = F.size(toks) - k + 1  # number of k-gram positions
    hashed = base.select(
        F.col(id_col),
        F.when(
            m0 >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(m0, F.lit(1))),
                lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
            ),
        ).alias("_spans"),
    )
    spans = F.col("_spans")
    m = F.size(spans)
    selected = F.when(
        m >= window,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m - window + 1),
                lambda j: F.array_min(F.slice(spans, j, window)),
            )
        ),
    ).when(m >= 1, F.array(F.array_min(spans)))
    return (
        hashed.select(F.col(id_col), F.explode(selected).alias("span_hash"))
        .distinct()
    )


def shared_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
    max_bucket: int = 64,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` selected span
    fingerprints — verbatim-overlap candidates for substring dedup.
    Plan shape: fingerprint explode (map-side) -> one groupBy on the
    near-uniform span_hash key with in-aggregate pair unfolding
    (``_bucket_pairs``: no self-join; degenerate boilerplate spans
    shared by > max_bucket docs are dropped as non-discriminative) ->
    pair-count aggregate. Returns (a, b, n_shared)."""
    fp = span_fingerprints(docs, id_col, text_col, k, window)
    # same bucket->pairs unfolding as _bucket_pairs, but WITHOUT its
    # final distinct: counting shared spans needs one row per
    # (pair, span_hash)
    ids = F.array_sort(F.collect_list(id_col))
    grouped = (
        fp.groupBy("span_hash")
        .agg(ids.alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair_arrays = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arrays).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
