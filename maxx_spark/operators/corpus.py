"""Dataset-assembly operators: the steps between a cleaned corpus and a
training run — deterministic split assignment, concat-and-chunk sequence
packing, source mixture weights/sampling, per-language quality
stratification, and output sharding.

All are expressed as declarative DataFrame plans (no Python in the hot
path) with exact ANSI-SQL oracles:

- ``hash_split``: shuffle-free projection (one corpus scan, zero exchanges).
- ``sequence_packing``: bounded (source, shard) packing key — within-shard
  running sums plus a shard-rollup prefix sum, so a mega-source never
  serializes into one window partition; offsets identical to the
  source-global formulation.
- ``mixture_weights`` / ``mixture_sample``: two-phase aggregate; the global
  stage runs over the per-source rollup only (one row per source —
  bounded), never the corpus; the sample join carries no broadcast hint
  (AQE broadcasts the rollup at runtime when small).
- ``quality_stratify``: exact per-language ntile via distributed range
  ranking — no per-language sort window; a test pins it against the
  literal ntile window.
- ``shard_assignment``: map-side-combining groupBy over n_shards keys.

Reference parity note: the reference engine (watermarkhu/maxx) stops at
extraction; these operators are the training-pipeline layer the brief asks
for on top, so there is no reference file to cite — semantics are defined
here and checked against the DuckDB oracles (q46-q52, q54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from maxx_spark.operators.dedup import canonical_ids, md5i
from maxx_spark.operators.ranking import range_ranked
from maxx_spark.operators.text import fp_normalized, quality_parts, word_tokens

# content-hash split: buckets below TRAIN_PCT train, the next VAL_PCT val
TRAIN_PCT = 90
VAL_PCT = 5
# quality gate: minimum text.quality_parts composite (0..4) a doc keeps
MIN_QUALITY = 3


def _n_tok():
    """``text.word_tokens`` of the text column as long — the count packing,
    mixture and sharding sum; each consumer's oracle mirrors it verbatim."""
    return word_tokens(F.col("text")).cast("long")


def quality_gated(docs: DataFrame) -> DataFrame:
    """docs whose quality composite is at least ``MIN_QUALITY``."""
    return docs.where(quality_parts(F.col("text"))["composite"] >= F.lit(MIN_QUALITY))


def split_cols():
    """(bucket, split) column pair of the content-hash split contract —
    shared by hash_split (q46), training_pipeline (q59) and the ingest
    (q54). Content-keyed on ``fp_normalized`` text so byte-level
    near-identical docs land in the same split: splitting on doc_id leaks
    duplicated content across train/test."""
    bucket = (md5i(fp_normalized(F.col("text"))) % 100).alias("bucket")
    split = (
        F.when(F.col("bucket") < TRAIN_PCT, F.lit("train"))
        .when(F.col("bucket") < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split")
    )
    return bucket, split


def hash_split(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    bucket = md5i(normalized text) mod 100; split = train below
    ``TRAIN_PCT``, val below ``TRAIN_PCT+VAL_PCT``, else test. Stable under
    corpus growth (a doc's split never changes when other docs are added),
    reproducible across engines (md5-prefix integer hash), and content-keyed
    so exact dupes can't straddle the eval boundary. Pure projection —
    whole-stage-codegen, no shuffle, linear at any scale.
    """
    bucket, split = split_cols()
    return documents.select("doc_id", bucket).select("doc_id", "bucket", split).orderBy("doc_id")


def sequence_packing(
    documents: DataFrame, budget: int = 256, shard_size: int = 256
) -> DataFrame:
    """Concat-and-chunk sequence packing: per source, documents concatenated
    in doc_id order and chunked into fixed ``budget``-token training
    sequences (the standard causal-LM packing scheme — documents may span a
    chunk boundary).

    Emits, per document: its token count (regex word tokens — the engine's
    BPE-ish pre-tokenizer split), its starting token offset in the source
    stream, and the first/last sequence index it lands in plus the span
    count.

    Plan — BOUNDED packing key: the running sum partitions by
    (source, shard) with shard = doc_id DIV ``shard_size``, never by
    ``source`` alone (one mega-source — the realistic web-corpus shape —
    would otherwise serialize most of the corpus into a single sort
    partition). shard is monotone in doc_id, so ordering by (shard, doc_id)
    IS the per-source doc_id order and the emitted offsets are identical to
    the single-window formulation:

    1. within-shard running sum — every window partition holds at most
       ``shard_size`` docs, a mega-source fans out over ⌈docs/k⌉ partitions;
    2. per-(source, shard) token totals — a groupBy on the SAME keys the
       window just partitioned on, so Catalyst reuses the exchange;
    3. shard base offsets — a running sum over the ROLLUP (one row per
       shard: corpus/k rows total, kilobyte-scale), partitioned by source;
    4. join the shard base back on (source, shard) — no broadcast hint
       (the rollup is unbounded in principle; AQE broadcasts it at runtime
       when it is actually small).

    Size ``shard_size`` so step 3's per-source rollup partition stays small:
    k = 100_000 puts a 10^11-doc source at 10^6 rollup rows. The default
    (256) keeps multiple shards live at test scale so the bounded plan is
    what the oracle actually checks.
    """
    n_tok = _n_tok()
    shard = F.expr(f"doc_id DIV {int(shard_size)}").cast("long").alias("__shard")
    w_in = (
        Window.partitionBy("source", "__shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = documents.select("source", shard, "doc_id", n_tok.alias("n_tok"))
    off_in = F.coalesce(F.sum("n_tok").over(w_in), F.lit(0)).cast("long")
    within = base.select("source", "__shard", "doc_id", "n_tok", off_in.alias("__off_in"))
    totals = within.groupBy("source", "__shard").agg(F.sum("n_tok").alias("__shard_tok"))
    w_sh = (
        Window.partitionBy("source")
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = totals.select(
        "source",
        "__shard",
        F.coalesce(F.sum("__shard_tok").over(w_sh), F.lit(0)).cast("long").alias("__base"),
    )
    out = (
        within.join(bases, ["source", "__shard"])
        .select(
            "source",
            "doc_id",
            "n_tok",
            (F.col("__base") + F.col("__off_in")).cast("long").alias("tok_offset"),
        )
    )
    seq_first = F.floor(F.col("tok_offset") / F.lit(budget)).cast("long")
    seq_last = F.when(
        F.col("n_tok") > 0,
        F.floor((F.col("tok_offset") + F.col("n_tok") - 1) / F.lit(budget)),
    ).otherwise(seq_first).cast("long")
    return (
        out.select(
            "source",
            "doc_id",
            "n_tok",
            "tok_offset",
            seq_first.alias("seq_first"),
            seq_last.alias("seq_last"),
            F.when(F.col("n_tok") > 0, seq_last - seq_first + 1).otherwise(F.lit(0)).cast("long").alias("n_seqs"),
        )
        .orderBy("source", "doc_id")
    )


def mixture_weights(documents: DataFrame) -> DataFrame:
    """Per-source sampling weights that rebalance the corpus toward a
    UNIFORM token mixture across sources (the static-reweighting baseline of
    data-mixture methods): weight(s) = total_tokens / (n_sources *
    tokens(s)) — sampling source s with probability proportional to
    weight(s)·tokens(s) draws equal token mass from every source.

    Two-phase plan: a map-side-combining groupBy(source) over the corpus,
    then the global total/count computed by a window over the ROLLUP table
    (one row per source — bounded cardinality, so the single-partition
    window stage touches kilobytes, never the corpus). Shares/weights are
    single IEEE-double divisions of exact integers (bit-identical in any
    engine), rounded once for display.
    """
    n_tok = _n_tok()
    per = documents.select("source", n_tok.alias("t")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("n_tokens")
    )
    wall = Window.partitionBy()
    total = F.sum("n_tokens").over(wall)
    n_src = F.count(F.lit(1)).over(wall)
    return (
        per.select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / total.cast("double"), 6).alias("token_share"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(total.cast("double") / (n_src * F.col("n_tokens")).cast("double"), 6),
            ).otherwise(F.lit(0.0)).alias("weight"),
        )
        .orderBy("source")
    )


def mixture_sample(documents: DataFrame, salt: str = "epoch0") -> DataFrame:
    """Epoch materialization under the uniform-mixture weights: every
    document gets a deterministic replication count ``n_copies`` with
    E[n_copies] = weight(source), so one materialized epoch carries equal
    expected token mass per source — floor(weight) guaranteed copies plus
    one Bernoulli(frac(weight)) copy decided by a salted content-free hash
    (md5i of "doc_id:salt" — changing the salt resamples the fractional
    copies, re-running with the same salt is byte-stable).

    Plan: corpus-scan rollup to the per-source weight table (bounded — one
    row per source) joined back WITHOUT a broadcast hint (AQE broadcasts it
    at runtime when it is actually small), then a pure projection for the
    hash draw. The weight arithmetic is single IEEE-double division of
    exact integers, so floor/frac are bit-identical in any engine.
    """
    n_tok = _n_tok()
    per = documents.select("source", n_tok.alias("t")).groupBy("source").agg(
        F.sum("t").alias("n_tokens")
    )
    wall = Window.partitionBy()
    weight = F.when(
        F.col("n_tokens") > 0,
        F.sum("n_tokens").over(wall).cast("double")
        / (F.count(F.lit(1)).over(wall) * F.col("n_tokens")).cast("double"),
    ).otherwise(F.lit(0.0))
    wtab = per.select("source", weight.alias("__w"))
    draw = md5i(F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt))) % F.lit(1_000_000)
    frac = F.col("__w") - F.floor(F.col("__w"))
    n_copies = (
        F.floor(F.col("__w")).cast("long")
        + F.when(draw < F.round(frac * F.lit(1_000_000.0)).cast("long"), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        documents.select("doc_id", "source")
        .join(wtab, "source")
        .select("doc_id", "source", n_copies.cast("long").alias("n_copies"))
        .orderBy("doc_id")
    )


def shard_assignment(documents: DataFrame, n_shards: int = 16) -> DataFrame:
    """Token-balanced output sharding: content-hash documents into
    ``n_shards`` write buckets and report each shard's document count,
    token mass, and share — the balance check before a bucketed/partitioned
    dataset write (balanced shards ⇒ no straggler writer, uniform file
    sizes). Content (not doc_id) keyed, so re-crawled duplicates land in
    the same shard and a later per-shard dedup stays local.

    Plan: pure projection for the shard key, one map-side-combining
    groupBy(shard) — the global share stage runs over n_shards rows only.
    """
    n_tok = _n_tok()
    shard = (md5i(fp_normalized(F.col("text"))) % n_shards).cast("int")
    per = (
        documents.select(shard.alias("shard"), n_tok.alias("t"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("n_tokens"))
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return (
        per.select(
            "shard",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / total.cast("double"), 6).alias("token_share"),
        )
        .orderBy("shard")
    )


def training_pipeline(documents: DataFrame) -> DataFrame:
    """The full dataset-assembly chain a user actually runs, composed as
    ONE declarative plan: quality gate (``quality_gated``) → exact content
    dedup (``dedup.canonical_ids``) → train-split selection (content hash)
    → sequence packing of the survivors.

    Exists for two reasons. Semantically it pins the COMPOSED contract
    (offsets are computed over the post-filter survivor stream, so any
    reordering of the stages would change the output — the oracle checks
    the whole chain). Physically it demonstrates the operators fuse:
    Catalyst plans the gate + dedup rollup + split filters and the packing
    windows as one plan with no materialization barrier.
    """
    gated = quality_gated(documents)
    surv = gated.join(canonical_ids(gated), "doc_id", "semi")
    bucket, _ = split_cols()
    train = surv.withColumn("__b", bucket.cast("long")).where(F.col("__b") < TRAIN_PCT).drop("__b")
    return sequence_packing(train)


def quality_stratify(documents: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Per-language quality stratification: every document gets an ntile
    bucket (1 = best) within its language, ranked by the engine's quality
    composite (descending) with doc_id as the deterministic tie-break —
    the selection primitive behind "keep the top decile per language".

    The reference semantics is ``ntile(n_buckets) OVER (PARTITION BY lang
    ORDER BY quality DESC, doc_id)`` (the oracle runs exactly that SQL; a
    test compares against the same Spark window). The window is not the
    plan: at web scale one language dominates the corpus (``en`` is most
    of the crawl) and its whole partition would sort on ONE task. Instead
    the exact per-language rank comes from ``range_ranked`` on (lang,
    quality desc, doc_id): range partitioning spreads the hot language
    across many partitions and the rank is exact (strict total order —
    doc_id unique), then the bucket comes from ntile's closed form on
    (rank, n_lang): with q = n div b, r = n mod b, the first r buckets
    take q+1 rows — bucket = ceil(rank/(q+1)) while rank <= r*(q+1), else
    r + ceil((rank - r*(q+1))/q). Per-language row counts are a bounded
    rollup (one row per language).

    Why not approx-quantile cutoffs: the composite is a small integer
    (0..4), so ties are the COMMON case — cutoff bucketing sends every tied
    document to the same bucket and cannot reproduce ntile's rank-split of
    ties at any sketch accuracy. The distributed exact rank gives the same
    parallelism with zero approximation.
    """
    q = quality_parts(F.col("text"))["composite"]
    base = documents.select("lang", "doc_id", q.alias("quality"))
    ranked = range_ranked(
        base,
        [F.asc("lang"), F.desc("quality"), F.asc("doc_id")],
        rank_name="__gr",
    )
    # per-language start = min global rank in the language (ranks are
    # contiguous per lang because lang leads the sort key) — a bounded
    # rollup over the ranked rows, no window anywhere
    lang_tab = ranked.groupBy("lang").agg(
        F.min("__gr").alias("__start"), F.count(F.lit(1)).alias("__n")
    ).withColumnRenamed("lang", "__lang")
    joined = (
        # null-safe equality: a NULL language is its own ntile partition in
        # the reference window, so the rank path must not drop those rows
        ranked.join(lang_tab, F.col("lang").eqNullSafe(F.col("__lang"))).drop("__lang")
        .withColumn("__rho", F.col("__gr") - F.col("__start") + F.lit(1))  # 1-based in-lang rank
        .withColumn("__q", F.expr(f"__n DIV {int(n_buckets)}"))
        .withColumn("__r", F.pmod(F.col("__n"), F.lit(n_buckets)).cast("long"))
    )
    # CaseWhen evaluates branches lazily, so the __q = 0 case (n < buckets,
    # head branch always taken) never divides by zero
    bucket = F.when(
        F.col("__rho") <= F.col("__r") * (F.col("__q") + 1),
        F.expr("(__rho - 1) DIV (__q + 1) + 1"),
    ).otherwise(F.expr("__r + (__rho - __r * (__q + 1) - 1) DIV __q + 1"))
    return (
        joined.select("lang", "doc_id", "quality", bucket.cast("int").alias("bucket"))
        .orderBy("lang", "doc_id")
    )
