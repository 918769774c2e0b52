"""Corpus-assembly operators for training-data pipelines: deterministic
splits and rate/mixture sampling, token-budget sharding and sequence
packing, benchmark decontamination.

Every operator is a pure built-in-function plan (no Python UDFs) and
engine-portable by construction, so every one has a value-level DuckDB
oracle:

* splits key on an md5 HEX-STRING comparison (hex digits are ordered in
  ASCII, so thresholds are plain string literals — no engine-specific
  hash or hex-to-int parsing);
* sharding uses the same two-level skew-safe cumulative sum as
  ``pipeline.ordered_output`` (a naive global-window cumsum would put
  the whole corpus through one task);
* decontamination broadcasts the (small) benchmark shingle set and
  left-semi joins the corpus's map-side shingles against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anytomd_spark.analysis.dedup import tokenize, word_shingles
from anytomd_spark.analysis.text_quality import token_count


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(name, 8-hex-char upper bound) per split, cumulative over the
    weight order. A document lands in the first split whose bound its
    md5-prefix sorts below — identical semantics as comparing the first
    32 bits of the hash against floor(cum_weight * 2^32)."""
    out: list[tuple[str, str]] = []
    cum = 0.0
    for name, w in weights.items():
        cum += w
        out.append((name, format(min(int(cum * (1 << 32)), (1 << 32) - 1), "08x")))
    return out


def deterministic_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to a train/val/test split, deterministically
    and content-independently: split = f(md5(id || ':' || seed)).

    This is how splits must be done at 10^12 scale — stable under
    re-runs, re-partitioning, and corpus growth (an id keeps its split
    when new data arrives), with no shuffle at all (pure map-side
    expression). ``weights`` must sum to 1 (e.g. {"train": .9,
    "val": .05, "test": .05}).
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    key = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 8
    )
    expr = None
    for name, bound in split_thresholds(weights):
        cond = key < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    # floating-point cum may leave the last bound just under ffffffff
    last = next(reversed(weights))
    return docs.withColumn("split", expr.otherwise(F.lit(last)))


def rate_threshold(rate: float) -> str:
    """8-hex-char upper bound for an md5-prefix keep test at ``rate``."""
    return format(min(int(rate * (1 << 32)), (1 << 32) - 1), "08x")


def hash_sample(
    docs: DataFrame,
    rate: float | None = None,
    rates: dict[str, float] | None = None,
    group_col: str = "source",
    seed: int = 13,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic rate sampling — the corpus-curation step that sets
    a target domain/source mix: keep a document iff its md5-prefix key
    sorts below the (per-group) rate threshold.

    Like :func:`deterministic_split`, this is how sampling must work at
    10^12 docs: content-independent, stable under re-runs /
    repartitioning / corpus growth (a kept id stays kept when the rate
    only moves up), and a pure map-side expression — zero shuffle, the
    filter pushes down next to the scan. ``rates`` maps group values
    (e.g. source/domain) to keep-rates; groups absent from the map are
    dropped (explicit mix control). ``rate`` alone applies uniformly.
    """
    if (rate is None) == (rates is None):
        raise ValueError("pass exactly one of rate / rates")
    key = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 8
    )
    if rate is not None:
        return docs.filter(key < F.lit(rate_threshold(rate)))
    expr = None
    for group, r in rates.items():
        cond = (F.col(group_col) == group) & (key < F.lit(rate_threshold(r)))
        expr = cond if expr is None else expr | cond
    return docs.filter(expr)


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_bucket: int = 1 << 20,
) -> DataFrame:
    """GPT-style sequence packing: the corpus's whitespace tokens,
    concatenated in ``id_col`` order, are cut into fixed-length
    training sequences of ``seq_len`` tokens; documents SPAN cuts (the
    standard concat-then-chunk packing — no padding, no greedy reflow).
    Output is the doc->sequence overlap map, one row per (document,
    sequence) intersection: (id_col, seq_id, seq_tok_start,
    n_tokens_in_seq) — enough for a writer to materialize any sequence
    by slicing its member documents. Zero-token documents contribute
    nothing and emit no rows.

    Plan shape: global token offsets come from the same two-level
    skew-safe cumulative sum as :func:`token_shards` (no single task
    sees the whole corpus ordering); the per-doc sequence fan-out is a
    JVM ``sequence``/``explode`` bounded by 1 + n_tokens/seq_len rows
    per document; everything downstream is expression arithmetic. Zero
    Python, two small shuffles (bucket offsets + the per-bucket
    window)."""
    base = token_shards(
        docs, max_tokens_per_shard=seq_len, id_col=id_col,
        text_col=text_col, id_bucket=id_bucket,
    )
    first = F.floor(F.col("start_offset") / seq_len).cast("long")
    last = F.floor(
        (F.col("start_offset") + F.col("n_tokens") - 1) / seq_len
    ).cast("long")
    spans = base.filter(F.col("n_tokens") > 0).select(
        id_col, "n_tokens", "start_offset",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len
    tok_start = F.greatest(F.col("start_offset"), seq_start)
    tok_end = F.least(
        F.col("start_offset") + F.col("n_tokens"), seq_start + seq_len
    )
    return spans.select(
        id_col, "seq_id",
        (tok_start - seq_start).alias("seq_tok_start"),
        (tok_end - tok_start).alias("n_tokens_in_seq"),
    )


def temperature_mix_rates(
    docs: DataFrame,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    group_col: str = "source",
    max_groups: int = 10_000,
) -> dict[str, float]:
    """Per-group keep-rates for temperature-based mixture sampling —
    the multilingual-LM data-mixing standard (exponentiated-count
    smoothing, mBERT / XLM-R, Conneau et al. 2020): sampling
    probability ``p_i ∝ n_i^alpha``, realized on a fixed corpus as
    ``rate_i = min(1, target_fraction * N * p_i / n_i)``. ``alpha < 1``
    flattens the mix (rare groups keep a larger fraction of their
    docs); ``alpha = 1`` reproduces the corpus mix; the min-1 cap is
    the single-epoch materialization bound (a hash FILTER cannot
    upsample).

    The counts aggregate is one map-side-partial groupBy; the collect
    is bounded by the GROUP cardinality — mixture components
    (languages, curated source buckets), never documents — and guarded
    by ``max_groups`` via a limit BEFORE the collect."""
    counts = (
        docs.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(counts) > max_groups:
        raise ValueError(
            f"temperature_mix_rates: > {max_groups} groups in "
            f"{group_col!r} — mixture components must be curated "
            f"buckets, not raw keys"
        )
    # deterministic arithmetic order (sorted by group) so re-runs — and
    # the SQL oracle, which mirrors this exact expression shape —
    # reproduce the same doubles
    ns = {r[group_col]: float(r["n"]) for r in counts}
    if any(g is None for g in ns):
        # r6 advice: sorted() over str-and-None raised an opaque
        # TypeError; make the contract explicit instead
        raise ValueError(
            f"temperature_mix_rates: null {group_col!r} group in the "
            "corpus — filter or impute null groups before mixing"
        )
    total = sum(ns[g] for g in sorted(ns))
    s = sum(ns[g] ** alpha for g in sorted(ns))
    return {
        g: min(1.0, target_fraction * total * (ns[g] ** alpha / s) / ns[g])
        for g in sorted(ns)
    }


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    group_col: str = "source",
    seed: int = 13,
    id_col: str = "doc_id",
    max_groups: int = 10_000,
) -> DataFrame:
    """Temperature-sampled corpus: derive the per-group rates from the
    corpus counts (:func:`temperature_mix_rates` — one bounded agg) and
    apply them with the zero-shuffle md5-prefix filter
    (:func:`hash_sample`). Same stability contract: membership is a
    pure function of (id, seed, group rate), so retuning the mix
    reuses every prior sample in groups whose rate grew (kept ids stay
    kept when a rate only moves up)."""
    rates = temperature_mix_rates(
        docs, alpha=alpha, target_fraction=target_fraction,
        group_col=group_col, max_groups=max_groups,
    )
    return hash_sample(
        docs, rates=rates, group_col=group_col, seed=seed, id_col=id_col
    )


def token_shards(
    docs: DataFrame,
    max_tokens_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_bucket: int = 1 << 20,
) -> DataFrame:
    """Contiguous token-budget sharding: documents in ``id_col`` order
    are packed into shards of ~``max_tokens_per_shard`` whitespace
    tokens; ``shard`` = the shard index of the document's starting
    token offset. The standard way to cut a corpus into equal-work
    training files.

    The cumulative sum is two-level (same pattern as
    ``ordered_output``): per-id-range-bucket token totals aggregate
    first (tiny), a window over BUCKET rows yields each bucket's start
    offset, and the per-document running sum windows only within its
    bucket — no single task ever sees the whole corpus ordering.

    Bucketing is by uniform id RANGES sized from a (count, min, max)
    scalar probe — one cheap eager aggregate over the id column only —
    targeting ~``id_bucket`` rows per bucket. This is order-preserving
    (required for the cumulative sum to be exact) and, unlike the
    naive ``floor(id / id_bucket)``, does not assume dense ids: sparse
    64-bit hash-derived ids (xxhash etc., uniform over the id range)
    still land ~``id_bucket`` rows per bucket, where the dense formula
    made one bucket per document and pushed the whole corpus through
    the single-task offset window. (Adversarially clustered sparse ids
    can still overfill a range bucket; uniform-hash ids — the realistic
    sparse case — cannot.)
    """
    n, mn, mx = docs.agg(
        F.count(F.lit(1)),
        F.min(id_col).cast("double"),
        F.max(id_col).cast("double"),
    ).collect()[0]
    n_buckets = max(1, -(-n // id_bucket))  # ceil
    if mn is None or mx <= mn:
        bkt = F.lit(1).cast("long")
    else:
        # width_bucket is monotone in id (weakly, under the double
        # cast), so bucket boundaries respect id order
        bkt = F.width_bucket(
            F.col(id_col).cast("double"), F.lit(mn), F.lit(mx),
            F.lit(n_buckets),
        ).cast("long")
    base = docs.select(
        F.col(id_col),
        bkt.alias("_bkt"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    counts = base.groupBy("_bkt").agg(F.sum("n_tokens").alias("_n"))
    w_off = Window.orderBy("_bkt")
    offsets = counts.select(
        "_bkt", (F.sum("_n").over(w_off) - F.col("_n")).alias("_off")
    )
    w_run = Window.partitionBy("_bkt").orderBy(id_col)
    return (
        base.join(offsets, "_bkt")
        .withColumn(
            "start_offset",
            F.col("_off") + F.sum("n_tokens").over(w_run) - F.col("n_tokens"),
        )
        .withColumn(
            "shard",
            F.floor(F.col("start_offset") / F.lit(max_tokens_per_shard))
            .cast("long"),
        )
        .select(id_col, "n_tokens", "start_offset", "shard")
    )


def _probe_shingles(probes: DataFrame, text_col: str, shingle_n: int) -> DataFrame:
    """Distinct shingle strings of the probe (benchmark) set."""
    return probes.select(
        F.explode(
            F.array_distinct(word_shingles(tokenize(text_col), shingle_n))
        ).alias("shingle")
    ).distinct()


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    ``shingle_n``-gram with a probe (benchmark/eval) document.

    The probe side's distinct shingles BROADCAST; the corpus side
    explodes its shingles map-side and left-semi joins against the
    broadcast, then re-aggregates to distinct contaminated ids. The
    corpus never shuffles on content. Right when the probe set is
    benchmarks — MBs, not TBs.

    ``probes`` needs a ``text`` column; returns (id, contaminated).
    """
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokenize(text_col), shingle_n))
        ).alias("shingle"),
    )
    hits = (
        doc_sh.join(
            F.broadcast(_probe_shingles(probes, text_col, shingle_n)),
            "shingle", "left_semi",
        )
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col, F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )
