"""Text-analysis operators over the documents table: language ID, quality
scoring, token counting, fingerprinting, and the composed corpus filter.

Most operators are built-in column expressions, whole-stage-codegen
eligible. Two run an Arrow pandas UDF, because Catalyst's interpreted
higher-order lambdas cost ~2 ms/doc for per-row n-gram work: ``_rep_stats``
(q39 repetition_rules, q41 corpus_filter) and ``rolling_fingerprint`` (q19).
The per-document projections are shuffle-free; the rollups (source health,
top terms, vocabulary, lexical diversity, histograms, the corpus filter's
canonical-copy rollup) shuffle on their group keys.

Each text rule has one engine definition: ``fp_normalized`` (the oracle's
FPNORM fragment), ``word_tokens``, the Gopher keep rule (``REP_MAX``,
``_rep_keep``) and the stopword language rule (``_lang_ratios``,
``_lang_pred``) here; ``normalized``/``words``/``text_hash`` (NORM) and
``canonical_ids`` in operators/dedup.py.
"""

from __future__ import annotations

import operator
from functools import reduce

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from maxx_spark.operators.dedup import canonical_ids, normalized, words
from maxx_spark.operators.ranking import range_ranked

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# Deterministic and mirrored verbatim in the SQL oracle.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "la", "los", "y", "es", "una"],
}


# Gopher repetition/format thresholds (Rae et al. 2021, app. A1.1): the
# largest value of each _rep_stats field a kept document may have.
REP_MAX = {
    "dup_line_frac": 0.30,
    "dup_3gram_frac": 0.50,
    "symbol_ratio": 0.10,
    "bullet_frac": 0.90,
}


def fp_normalized(col):
    """Aggressive fingerprint normalization: lower, non-alnum → space,
    collapse, trim. Byte-level near-identical docs (whitespace or
    punctuation variants) share it, so content keys built on it (split,
    shard, fingerprint) never tell them apart."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "), r"\s+", " "))


def word_tokens(col):
    """Regex word-token count ([a-z0-9]+ over the lowered text — a BPE-ish
    pre-tokenizer split), int."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(r"[a-z0-9]+"), 0))


def _lang_ratios(text):
    """{lang: share of the text's words in that language's STOPWORDS set}."""
    toks = words(text)
    n = F.greatest(F.size(toks), F.lit(1))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*sw))).cast("double") / n.cast("double")
        for lang, sw in STOPWORDS.items()
    }


def _lang_pred(ratios):
    """Predicted language from ``_lang_ratios``: the argmax language if its
    ratio >= 0.02, else 'und'; ties break by language code order."""
    langs = sorted(STOPWORDS)
    best = F.greatest(*[ratios[k] for k in langs])
    pred = F.lit("und")
    for k in reversed(langs):  # earlier codes win ties → apply in reverse
        pred = F.when((ratios[k] >= 0.02) & (ratios[k] == best), F.lit(k)).otherwise(pred)
    return pred


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-ratio language ID (``_lang_pred``) with each document's best
    ratio."""
    ratios = _lang_ratios(F.col("text"))
    df = documents.select("doc_id", "lang", *[v.alias(f"r_{k}") for k, v in ratios.items()])
    r = {k: F.col(f"r_{k}") for k in ratios}
    return (
        df.select(
            "doc_id",
            F.col("lang").alias("declared_lang"),
            _lang_pred(r).alias("pred_lang"),
            F.round(F.greatest(*[r[k] for k in sorted(STOPWORDS)]), 6).alias("best_ratio"),
        )
        .orderBy("doc_id")
    )


def quality_parts(text):
    """Shared quality components over a text column — returned as a dict of
    Columns so quality_score / source_quality / quality_stratify compute the
    SAME expressions (one definition, three oracles mirror it)."""
    toks = words(text)
    n_tok = F.size(toks)
    n_char = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    en = STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*en)))
    mean_wl = F.when(n_tok > 0, n_alpha.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_char > 0, n_punct.cast("double") / n_char.cast("double")).otherwise(F.lit(0.0))
    composite = (
        F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1)).otherwise(F.lit(0))
        + F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), F.lit(1)).otherwise(F.lit(0))
        + F.when(stop_ratio >= 0.01, F.lit(1)).otherwise(F.lit(0))
        + F.when(punct_ratio <= 0.2, F.lit(1)).otherwise(F.lit(0))
    )
    return {
        "n_tok": n_tok,
        "n_char": n_char,
        "mean_wl": mean_wl,
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "composite": composite,
    }


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword quality components + composite.

    Components are integer or exactly-derived ratios rounded once at the
    end, so the oracle matches bit-for-bit.
    """
    p = quality_parts(F.col("text"))
    n_tok, n_char = p["n_tok"], p["n_char"]
    mean_wl, stop_ratio, punct_ratio = p["mean_wl"], p["stop_ratio"], p["punct_ratio"]
    composite = p["composite"]
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_char.cast("long").alias("n_chars_obs"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        composite.alias("quality"),
    ).orderBy("doc_id")


def token_counts(documents: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace tokens and regex word tokens
    ([a-z0-9]+ over the lowered text — a BPE-ish pre-tokenizer split)."""
    text = F.col("text")
    ws = F.size(F.split(F.trim(text), r"\s+"))
    return documents.select(
        "doc_id",
        ws.alias("ws_tokens"),
        word_tokens(text).alias("word_tokens"),
    ).orderBy("doc_id")


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of ``fp_normalized`` text — canonical
    near-exact-dup key."""
    norm = fp_normalized(F.col("text"))
    return documents.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    ).orderBy("doc_id")


def repetition_rules(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition / format quality rules (Rae et al. 2021,
    'Scaling Language Models', app. A1.1 — public filter heuristics used in
    web-text pipelines):

    - dup_line_frac: fraction of non-empty lines that repeat;
    - dup_3gram_frac: fraction of word 3-grams that are repeats;
    - symbol_ratio: '#'/'@'/braces chars per character;
    - bullet_frac: fraction of lines starting with a bullet;
    - keep: every stat is at most its ``REP_MAX`` threshold.

    Implementation: ONE Arrow-batched pandas UDF computing all five stats
    per document — the pure-built-in formulation (transform over an index
    range building the 3-gram array) was measured at ~2 ms/doc (~10 s for
    5k docs at sf0.1) because Catalyst higher-order lambdas are
    interpreted; the vectorized Python pass is ~50x faster and stays
    shuffle-free / linearly scalable. Every stat is an exact ratio of
    integer counts with semantics matching the Java-regex built-ins
    (\\s = [ \\t\\n\\x0b\\f\\r], trim = spaces only), so the SQL oracle
    matches bit-for-bit."""
    stats = _rep_stats(F.col("text"))
    return (
        documents.select("doc_id", stats.alias("s"))
        .select(
            "doc_id",
            F.round(F.col("s.dup_line_frac"), 6).alias("dup_line_frac"),
            F.round(F.col("s.dup_3gram_frac"), 6).alias("dup_3gram_frac"),
            F.round(F.col("s.symbol_ratio"), 6).alias("symbol_ratio"),
            F.round(F.col("s.bullet_frac"), 6).alias("bullet_frac"),
            _rep_keep("s").alias("keep"),
        )
        .orderBy("doc_id")
    )


def _rep_keep(s):
    """Gopher keep rule over the ``_rep_stats`` struct column named ``s``."""
    return reduce(operator.and_, [F.col(f"{s}.{k}") <= v for k, v in REP_MAX.items()])


_SYMBOLS = set("#@{}[]<>")


def _rep_stats(text_col):
    """struct(dup_line_frac, dup_3gram_frac, symbol_ratio, bullet_frac)
    via one vectorized pandas UDF. Semantics mirror the Java-regex
    built-ins exactly: \\s+ collapse uses Java's ASCII \\s, trim strips
    spaces only, lines split on \\n, bullets match ^[-*•] after trim."""
    import re as _re

    ws = _re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf(
        "struct<dup_line_frac: double, dup_3gram_frac: double, "
        "symbol_ratio: double, bullet_frac: double>"
    )
    def stats(texts: pd.Series) -> pd.DataFrame:
        dl, dg, sy, bu = [], [], [], []
        for t in texts:
            t = t or ""
            lines = [ln for ln in t.split("\n") if ln.strip(" ") != ""]
            n_lines = len(lines)
            dl.append((n_lines - len(set(lines))) / n_lines if n_lines else 0.0)
            w = ws.sub(" ", t.lower()).strip(" ").split(" ")
            n_g = max(len(w) - 2, 0)
            if n_g:
                grams = set(zip(w, w[1:], w[2:]))
                dg.append((n_g - len(grams)) / n_g)
            else:
                dg.append(0.0)
            sy.append(sum(c in _SYMBOLS for c in t) / max(len(t), 1))
            bullets = sum(ln.strip(" ")[:1] in "-*•" for ln in lines)
            bu.append(bullets / n_lines if n_lines else 0.0)
        return pd.DataFrame(
            {
                "dup_line_frac": dl,
                "dup_3gram_frac": dg,
                "symbol_ratio": sy,
                "bullet_frac": bu,
            }
        )

    return stats(text_col)


def corpus_filter(documents: DataFrame) -> DataFrame:
    """The composed training-data pipeline over documents: a doc survives
    iff (1) it passes the Gopher repetition/format rules, (2) it is the
    canonical copy in exact dedup (``dedup.canonical_ids``), and (3) its
    declared language matches the stopword language ID (or the ID abstains
    with 'und').

    The rules and lang-ID are evaluated on ONE scan projection (joining
    the individual operators' outputs would recompute the text-heavy
    branches once per join subtree). The canonical-copy rollup is never a
    broadcast of a corpus-sized canonical set (OOM at web scale; the
    round-2 bug). Net cost: one scan + two slim skew-proof exchanges.
    Emits survivors only."""
    s = _rep_stats(F.col("text"))
    scored = documents.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        _lang_pred(_lang_ratios(F.col("text"))).alias("pred_lang"),
        s.alias("s"),
    ).select("doc_id", "declared_lang", "pred_lang", _rep_keep("s").alias("keep"))
    # canonical = min doc_id over ALL copies: the keep/lang filters apply
    # after, matching exact_dedup semantics
    return (
        scored.where(
            F.col("keep")
            & (
                (F.col("pred_lang") == F.col("declared_lang"))
                | (F.col("pred_lang") == "und")
            )
        )
        .join(canonical_ids(documents), "doc_id", "semi")
        .select("doc_id", "declared_lang", "pred_lang")
        .orderBy("doc_id")
    )


def top_terms(documents: DataFrame, k: int = 5, min_len: int = 3) -> DataFrame:
    """Top-``k`` salient terms per document — an integer-only tf-idf-style
    keyword extractor: rank terms by (tf desc, df asc, term asc). Rare
    terms win ties, which is exactly the idf direction, but the score
    stays a pure integer triple so the ranking is bit-reproducible on any
    engine (a float tf*log(N/df) product would rank identically on ties
    only up to float formatting).

    Plan shape at scale: one explode + two hash aggs + one shuffle join on
    ``term`` (df side is one row per DISTINCT term — unbounded, so NO
    broadcast hint; AQE may still pick one at small SF) + a window
    partitioned by doc_id. All keys are uniform (terms are zipfian but the
    df agg combines map-side; the join key fanout is bounded by per-doc
    distinct terms)."""
    toks = documents.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    toks = toks.where(F.length("term") >= min_len)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", F.col("rnk").cast("int").alias("rnk"), "term", "tf", "df")
        .orderBy("doc_id", "rnk")
    )


def vocab_build(documents: DataFrame, min_df: int = 2) -> DataFrame:
    """Corpus vocabulary construction (the tokenizer-training precursor):
    every term with document frequency >= ``min_df`` gets a deterministic
    CONTIGUOUS id, assigned by (df desc, tf desc, term asc) — frequent
    terms get small ids, ties integer-broken, bit-reproducible anywhere.

    Plan: one explode + two hash aggs (tf/df combine map-side), then
    contiguous ids via ``range_ranked`` (operators/ranking.py) — range
    partition the surviving vocabulary on the id order, enumerate within
    partitions, prefix-sum the bounded per-partition counts. At 100 TB
    with min_df=2 the post-filter vocabulary is still hundreds of millions
    of terms; the previous single-partition ``row_number`` window sorted
    all of them on one task, this sorts them in parallel and assigns the
    IDENTICAL ids ((df, tf, term) is a strict total order — term unique).
    """
    toks = documents.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    per_doc = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    stats = per_doc.groupBy("term").agg(
        F.sum("c").alias("tf"), F.count(F.lit(1)).alias("df")
    )
    ranked = range_ranked(
        stats.where(F.col("df") >= min_df),
        [F.desc("df"), F.desc("tf"), F.asc("term")],
        rank_name="vocab_id",
    )
    return ranked.select("vocab_id", "term", "tf", "df").orderBy("vocab_id")


def source_quality(documents: DataFrame) -> DataFrame:
    """Per-source corpus health rollup: doc count, distinct-content count
    (by the aggressive fingerprint norm), mean quality composite, total
    regex word tokens. ONE scan + one groupBy on ``source`` (bounded
    cardinality = number of crawl sources). Mean aggregates the integer
    composite in DECIMAL and rounds once, so the oracle matches exactly."""
    text = F.col("text")
    return (
        documents.select(
            "source",
            quality_parts(text)["composite"].alias("q"),
            F.md5(fp_normalized(text)).alias("fp"),
            word_tokens(text).alias("wt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
            (F.round(F.sum(F.col("q").cast("decimal(20,0)"))
                     / F.count(F.lit(1)).cast("decimal(20,0)"), 6)
             ).cast("double").alias("mean_quality"),
            F.sum("wt").alias("total_word_tokens"),
        )
        .orderBy("source")
    )


# Fixed contamination probe set: 3-grams that may appear verbatim in a
# benchmark/eval set — the check is "how many training docs contain each
# probe". A FIXED, bounded probe dim is the legitimate broadcast case.
CONTAMINATION_PROBES = [
    "hash join order",
    "table scan merge",
    "spark window window",
    "group agg row",
    "quantum flux capacitor",
    # round-4 additions: denser benchmark dim so the per-doc overlap
    # operator (q56) sees realistic multi-hit documents; shared with the
    # per-probe scan (q45) — ONE benchmark definition, two views of it
    "row column sort",
    "stream table hash",
    "part filter scan",
    "window fast query",
    "customer part join",
    "data merge group",
    "value spark vector",
    "agg hash window",
]


# A caller-supplied probe dim may be a real benchmark suite (millions of
# n-grams) — forcing F.broadcast on it would violate the hint-only-on-
# ABSOLUTELY-bounded-dims rule (ADVICE r4). Hint only below this count;
# beyond it, AQE's size-based planning decides.
_PROBE_HINT_MAX = 10_000


def _hint_if_bounded(pdf: DataFrame, probes: list) -> DataFrame:
    return F.broadcast(pdf) if len(probes) <= _PROBE_HINT_MAX else pdf


def contamination_check(documents: DataFrame, probes: list[str] | None = None) -> DataFrame:
    """Benchmark-contamination scan: for each probe n-gram, the number of
    documents whose normalized text contains it verbatim, plus the first
    (min) doc id as an exemplar. Implemented as broadcast-probe × doc
    stream with a JVM `contains` filter — one scan of the corpus, |probes|
    predicate evaluations per row, partial counts combine map-side. Probes
    with zero hits are still emitted (left join against the probe dim),
    because 'no contamination' is the result that matters."""
    probes = CONTAMINATION_PROBES if probes is None else probes
    spark = documents.sparkSession
    pdf = spark.createDataFrame([(p,) for p in probes], "probe string")
    hits = (
        documents.select("doc_id", normalized(F.col("text")).alias("__t"))
        .join(_hint_if_bounded(pdf, probes), F.expr("contains(__t, probe)"))
        .groupBy("probe")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc_id"))
    )
    return (
        pdf.join(hits, "probe", "left")
        .select(
            "probe",
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
            "first_doc_id",
        )
        .orderBy("probe")
    )


def decontamination_overlap(
    documents: DataFrame, probes: list[str] | None = None, n: int = 3
) -> DataFrame:
    """Per-document benchmark-overlap fraction — the decontamination signal
    LLM pipelines threshold on (a training document is dropped when too
    many of its n-grams appear verbatim in an evaluation benchmark; the
    GPT-3/Dolma-style n-gram rule). Shares the benchmark probe dim with
    contamination_check (q45): q45 answers "which probes leaked, where";
    this answers "which documents to drop, how contaminated".

    Plan: distinct word n-grams per doc (array_distinct BEFORE explode —
    zero exchanges, same shape as the dedup index), LEFT join against the
    bounded probe dim (fixed literal — the legitimate broadcast case), one
    map-side-combining groupBy(doc_id). Docs with fewer than ``n`` words
    emit no row (no shingles — mirrored in the oracle).
    """
    from maxx_spark.operators.dedup import word_shingles

    probes = CONTAMINATION_PROBES if probes is None else probes
    spark = documents.sparkSession
    pdf = spark.createDataFrame([(p,) for p in probes], "probe string")
    sh = word_shingles(documents, n)
    flagged = sh.join(_hint_if_bounded(pdf, probes), sh.shingle == pdf.probe, "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("probe").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_shingles").cast("double"), 6
            ).alias("overlap_fraction"),
        )
        .orderBy("doc_id")
    )


# PII patterns — written to behave identically under Java regex (Spark) and
# RE2 (DuckDB): only \d, \b, literal classes, bounded quantifiers. Counts
# are of NON-OVERLAPPING left-to-right matches (both engines' extract-all
# semantics). The synthetic corpus contains no PII (the oracle pins the
# all-zero scan deterministically); unit tests pin the positive cases.
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "n_ssn_like": r"\b\d{3}-\d{2}-\d{4}\b",
    "n_long_digit_runs": r"\d{9,}",
}


def pii_scan(documents: DataFrame) -> DataFrame:
    """Per-document PII indicator counts (emails, IPv4 addresses, SSN-shaped
    triples, 9+-digit runs) plus a scrub flag — the pre-redaction audit pass
    of a training-data pipeline. Pure projection (regexp_extract_all counts,
    whole-stage codegen, zero exchanges beyond the display sort); redaction
    itself would be the same expressions under regexp_replace."""
    cols = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(rx), 0)).cast("long").alias(name)
        for name, rx in PII_PATTERNS.items()
    ]
    has = None
    for name in PII_PATTERNS:
        c = F.col(name) > 0
        has = c if has is None else (has | c)
    return (
        documents.select("doc_id", *cols)
        .select("doc_id", *PII_PATTERNS, has.cast("int").alias("needs_scrub"))
        .orderBy("doc_id")
    )


def lexical_diversity(documents: DataFrame) -> DataFrame:
    """Per-document lexical-diversity stats: token count, type count
    (distinct words), hapax count (words occurring exactly once in the
    doc), type-token ratio and hapax fraction — the vocabulary-richness
    quality signals (word-soup spam has TTR near 0; keyboard mash has TTR
    near 1 with hapax_frac 1).

    Plan: explode → groupBy(doc_id, word) → groupBy(doc_id): two
    map-side-combining exchanges on uniform keys, integer-exact until the
    single final rounding."""
    toks = documents.select("doc_id", F.explode(words(F.col("text"))).alias("w"))
    per = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6).alias("ttr"),
            F.round(F.col("n_hapax").cast("double") / F.col("n_types").cast("double"), 6).alias("hapax_frac"),
        )
        .orderBy("doc_id")
    )


def rolling_fingerprint(documents: DataFrame, window: int = 8, keep: int = 4) -> DataFrame:
    """Winnowing-style rolling fingerprint: md5i of each ``window``-token
    shingle, keep the ``keep`` smallest per doc (a robust partial-overlap
    signature). One Arrow-batched pandas UDF per document: the per-row work
    is |tokens| shingle builds + md5s, and Catalyst higher-order lambdas
    are interpreted — the built-in formulation (transform over an index
    range with ``window`` element_at calls + md5 + conv per position) was
    measured at 24.5 s for 5k docs at sf0.1 vs ~1 s vectorized. Semantics
    are bit-exact with the SQL oracle: Python hashlib.md5 over the same
    UTF-8 bytes, first-14-hex-digits base-16 (= md5i), Java-\\s whitespace
    collapse, space-only trim. Shuffle-free and linearly scalable; emitted
    exploded (doc_id, sig_rank, sig_hash) so the oracle compares scalar
    columns."""
    import hashlib
    import re as _re

    ws = _re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not Python unicode \s

    @F.pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            w = ws.sub(" ", (t or "").lower()).strip(" ").split(" ")
            n_sh = len(w) - window + 1
            if n_sh <= 0:
                out.append([])
                continue
            hs = sorted(
                int(
                    hashlib.md5(" ".join(w[i : i + window]).encode("utf-8")).hexdigest()[:14],
                    16,
                )
                for i in range(n_sh)
            )
            out.append(hs[:keep])
        return pd.Series(out)

    return (
        documents.select("doc_id", F.posexplode(sig(F.col("text"))).alias("sig_rank", "sig_hash"))
        .orderBy("doc_id", "sig_rank")
    )


# Hand-set public-heuristic weights for the linear quality scorer below —
# a fastText/logistic-regression-analogue "model-based quality filter"
# (the classifier stage of LLM data-curation pipelines, cf. GPT-3 /
# CCNet-style quality classifiers) with all-integer arithmetic so both
# engines agree bit-for-bit. Weights favor stopword-bearing alphabetic
# prose of nontrivial length and penalize punctuation soup.
QUALITY_CLS_WEIGHTS = {"stop_pm": 3, "alpha_pm": 2, "punct_pm": -4, "len_bucket": 120}


def quality_classifier(documents: DataFrame, threshold: int = 2000) -> DataFrame:
    """Model-based quality filter: fixed integer-weighted linear scorer
    over per-mille text statistics, with a keep/drop decision at
    ``threshold``. The inference analogue of the trained quality
    classifiers used for LLM corpus curation — weights are a public
    heuristic (QUALITY_CLS_WEIGHTS), the *plan shape* is the deliverable:
    a zero-shuffle pure projection (whole-stage codegen end-to-end, no
    exchange beyond the display sort), so at 100 TB it runs at scan speed
    and pushes nothing across the network.

    Integer determinism: features are per-mille ratios computed as
    floor(1000*a/b) over exact-int doubles — both operands < 2^53 so the
    IEEE quotient of an integer-valued ratio is exact, and a non-integer
    ratio with b <= 10^9 sits >= 1e-9 away from any integer (>> 1 ulp), so
    floor() agrees across engines; the score is a BIGINT dot product.
    """
    text = F.col("text")
    toks = words(text)
    n_tok = F.size(toks).cast("long")
    n_char = F.length(text).cast("long")
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("long")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("long")
    en = STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*en))).cast("long")

    def _pm(a, b):
        return F.when(b > 0, F.floor(a.cast("double") * 1000.0 / b.cast("double"))).otherwise(
            F.lit(0)
        ).cast("long")

    stop_pm = _pm(n_stop, n_tok)
    alpha_pm = _pm(n_alpha, n_char)
    punct_pm = _pm(n_punct, n_char)
    len_bucket = (
        F.when(n_tok < 10, F.lit(0))
        .when(n_tok < 50, F.lit(1))
        .when(n_tok < 200, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
    )
    w = QUALITY_CLS_WEIGHTS
    score = (
        F.lit(w["stop_pm"]).cast("long") * stop_pm
        + F.lit(w["alpha_pm"]).cast("long") * alpha_pm
        + F.lit(w["punct_pm"]).cast("long") * punct_pm
        + F.lit(w["len_bucket"]).cast("long") * len_bucket
    )
    return documents.select(
        "doc_id",
        stop_pm.alias("stop_pm"),
        alpha_pm.alias("alpha_pm"),
        punct_pm.alias("punct_pm"),
        len_bucket.alias("len_bucket"),
        score.alias("q_score"),
        (score >= F.lit(threshold)).cast("int").alias("keep"),
    ).orderBy("doc_id")


def token_histogram(documents: DataFrame) -> DataFrame:
    """Per-source token-count histogram on decimal-magnitude buckets
    (bucket = number of digits of the regex word-token count, i.e. the
    power-of-ten size class a doc falls in — the shape report every corpus
    card starts with).

    Plan: pure projection (the q17 word-token regex count) followed by ONE
    groupBy on the bounded (source, bucket) key space — map-side combine
    collapses each scan partition to at most |sources| x ~7 partial rows,
    so the exchange moves kilobytes at any SF; scan-dominated, whole-stage
    codegen end-to-end. All-integer outputs (exact cross-engine)."""
    d = documents.select("source", word_tokens(F.col("text")).alias("wt"))
    return (
        d.groupBy("source", F.length(F.col("wt").cast("string")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("wt").cast("long").alias("sum_tokens"),
            F.min("wt").cast("int").alias("min_tokens"),
            F.max("wt").cast("int").alias("max_tokens"),
        )
        .orderBy("source", "bucket")
    )


def length_percentiles(documents: DataFrame, pms: tuple[int, ...] = (500, 900, 990)) -> DataFrame:
    """Exact per-source length percentiles (p50/p90/p99 of n_chars) via the
    two-phase bounded-histogram construction — the corpus-card stat, computed
    WITHOUT sorting the corpus: percentile_disc semantics (smallest value
    whose cumulative count reaches ceil(pm/1000 * n)), all-integer and
    engine-exact (integer-ceil `(pm*n + 999) div 1000`, never a float rank).

    Plan: phase 1 collapses the corpus to a (source, n_chars) histogram with
    map-side combine — the exchange moves at most |sources| x |distinct
    lengths| partial rows, a key space bounded by the LENGTH RANGE (document
    size policy), not by corpus row count, so the downstream per-source
    cumulative window is over a small bounded table at any SF. Phase 2 joins
    the per-source totals and picks each percentile with a min(CASE) —
    one more bounded-key aggregate. Contrast percentile_approx (approximate,
    engine-specific) or a corpus-wide sort (a full range shuffle)."""
    hist = documents.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    j = cum.join(tot, "source")
    aggs = []
    for pm in pms:
        tgt = F.expr(f"(({pm} * n + 999) div 1000)")
        aggs.append(
            F.min(F.when(F.col("cum") >= tgt, F.col("n_chars")))
            .cast("long")
            .alias(f"p{pm // 10}")
        )
    return (
        j.groupBy("source")
        .agg(F.max("n").alias("n_docs"), *aggs)
        .select("source", F.col("n_docs").cast("long"), *[F.col(f"p{pm // 10}") for pm in pms])
        .orderBy("source")
    )
