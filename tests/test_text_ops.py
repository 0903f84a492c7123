"""Unit tests for the round-3 corpus operators (q42-q45). The DuckDB
oracle compare covers end-to-end values at sf0.001/0.01; these pin the
algorithmic properties the small-SF corpus may not exercise — chain-graph
convergence, tie-breaks, zero-hit probes."""

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_connected_components_chain_and_singleton(spark):
    """A 4-node CHAIN (diameter 3),
    a separate pair, and an isolated pair; labels = component min. The
    same graph with string keys ("host/cls", as class_mro passes them)
    labels with the string min."""
    from maxx_spark.operators.dedup import connected_components

    edges = [(10, 20), (20, 30), (30, 40), (100, 200), (7, 8)]
    expect = {
        10: (10, 4), 20: (10, 4), 30: (10, 4), 40: (10, 4),
        100: (100, 2), 200: (100, 2),
        7: (7, 2), 8: (7, 2),
    }
    inputs = [
        (spark.createDataFrame(edges, "doc_a long, doc_b long"), expect),
        (
            spark.createDataFrame(
                [(f"h/{a}", f"h/{b}") for a, b in edges], "doc_a string, doc_b string"
            ),
            {f"h/{k}": (f"h/{c}", n) for k, (c, n) in expect.items()},
        ),
    ]
    # both solve paths must agree: driver-side union-find (small graphs)
    # and the distributed star loop (forced via local_threshold=0)
    for pairs, want in inputs:
        for thr in (100_000, 0):
            out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
                   for r in connected_components(pairs, local_threshold=thr).collect()}
            assert out == want, (pairs.schema[0].dataType, thr)


def test_connected_components_reversed_chain(spark):
    """Worst case for min-propagation: the min id sits at the chain END
    (edges point 'away'), forcing label flow across the full diameter."""
    from maxx_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(50, 40), (40, 30), (30, 20), (20, 1)], "doc_a long, doc_b long"
    )
    for thr in (100_000, 0):
        out = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs, local_threshold=thr).collect()}
        assert set(out.values()) == {1} and len(out) == 5, thr


def test_connected_components_star_variant(spark):
    """The distributed star loop (large-star/small-star), called directly,
    must (a) label ordinary graphs exactly as union-find does — and so must
    connected_components' distributed path — and (b) solve a long PATH,
    where rounds would equal the diameter for min-label propagation, in
    O(log^2 n) rounds."""
    import random

    from maxx_spark.operators.dedup import (
        _cc_star,
        _cc_unionfind_local,
        connected_components,
    )

    # ordinary graphs: random edges + a 3-node chain
    rng = random.Random(3)
    nodes = list(range(0, 400, 7))
    random_pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in random_pairs if a != b] + [(900, 901), (901, 902)],
        "doc_a long, doc_b long",
    )
    uf = _cc_unionfind_local(pairs).collect()
    want = {r["doc_id"]: r["cluster_id"] for r in uf}
    star_labels, _ = _cc_star(pairs, max_iters=20)
    assert {r["doc_id"]: r["label"] for r in star_labels.collect()} == want
    got = connected_components(pairs, local_threshold=0).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, uf))

    # clique through a canonical doc (the common dedup shape, diameter 2)
    clique = spark.createDataFrame(
        [(5, x) for x in (9, 23, 41)] + [(9, 23)], "doc_a long, doc_b long"
    )
    star_labels, _ = _cc_star(clique, max_iters=20)
    want = {r["doc_id"]: r["cluster_id"] for r in _cc_unionfind_local(clique).collect()}
    assert want == {5: 5, 9: 5, 23: 5, 41: 5}
    assert {r["doc_id"]: r["label"] for r in star_labels.collect()} == want

    # 120-node path, min at the far end: diameter 119. Star collapses the
    # whole path to one root and converges strictly early.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "doc_a long, doc_b long"
    )
    und = path.select(F.col("doc_a"), F.col("doc_b"))
    star_labels, star_rounds = _cc_star(und, max_iters=12)
    star = {r["doc_id"]: r["label"] for r in star_labels.collect()}
    assert star == {i: 0 for i in range(120)}
    # O(log^2 n) contraction: 8 working rounds + 1 stationary confirm round
    assert star_rounds <= 9, star_rounds


def test_connected_components_cap_raises(spark):
    """A loop that hits its round cap mid-contraction raises instead of
    returning partial labels: 3 rounds cannot settle a 120-node path."""
    import pytest

    from maxx_spark.operators.dedup import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="max_iters=3"):
        connected_components(path, max_iters=3, local_threshold=0).collect()


def test_top_terms_tie_breaks(spark):
    """tf desc, then df asc (rarer wins), then term asc."""
    from maxx_spark.operators.text import top_terms

    docs = _docs(spark, [
        "alpha alpha beta beta gamma",   # alpha/beta tf=2; gamma tf=1
        "beta delta delta",              # beta appears in 2 docs, alpha in 1
    ])
    out = [(r["doc_id"], r["rnk"], r["term"], r["tf"], r["df"])
           for r in top_terms(docs, k=3).collect()]
    # doc 0: alpha (tf2, df1) beats beta (tf2, df2) on rarity; gamma third
    assert out[0] == (0, 1, "alpha", 2, 1)
    assert out[1] == (0, 2, "beta", 2, 2)
    assert out[2] == (0, 3, "gamma", 1, 1)
    # doc 1: delta (tf2) first, then beta
    assert out[3] == (1, 1, "delta", 2, 1)
    assert out[4] == (1, 2, "beta", 1, 2)


def test_contamination_zero_hit_probe_still_emitted(spark):
    from maxx_spark.operators.text import contamination_check

    docs = _docs(spark, ["the hash join order wins", "nothing to see"])
    out = {r["probe"]: (r["n_docs"], r["first_doc_id"])
           for r in contamination_check(
               docs, probes=["hash join order", "never present ngram"]).collect()}
    assert out["hash join order"] == (1, 0)
    assert out["never present ngram"] == (0, None)


def test_source_quality_counts_distinct_content(spark):
    from maxx_spark.operators.text import source_quality

    # doc 0/2 -> src0 (identical text -> 1 distinct), doc 1/3 -> src1
    docs = _docs(spark, ["same text here ok", "one of a kind", "same text here ok", "another text"])
    out = {r["source"]: (r["n_docs"], r["n_distinct"]) for r in source_quality(docs).collect()}
    assert out["src0"] == (2, 1)
    assert out["src1"] == (2, 2)


def test_vocab_build_ids_and_min_df(spark):
    """Contiguous ids from 0 in (df desc, tf desc, term asc) order; terms
    below min_df dropped; tf is the TOTAL occurrence count."""
    from maxx_spark.operators.text import vocab_build

    docs = _docs(spark, [
        "alpha alpha beta",      # alpha tf=2 here
        "alpha beta gamma",
        "beta delta",            # delta df=1 -> dropped at min_df=2
    ])
    out = [(r["vocab_id"], r["term"], r["tf"], r["df"]) for r in vocab_build(docs).collect()]
    # beta: df=3; alpha: df=2 tf=3; gamma/delta df=1 dropped... gamma df=1 too
    assert out == [(0, "beta", 3, 3), (1, "alpha", 3, 2)]
    all_terms = vocab_build(docs, min_df=1).collect()
    assert [r["vocab_id"] for r in all_terms] == list(range(len(all_terms)))
    assert {r["term"] for r in all_terms} == {"alpha", "beta", "gamma", "delta"}


def test_decontamination_overlap_fractions(spark):
    """Exact per-doc overlap fractions against an explicit probe dim;
    within-doc repeats of a shingle count once (distinct index); sub-n
    docs emit no row."""
    from maxx_spark.operators.text import decontamination_overlap

    probes = ["b c d", "x y z"]
    rows = [
        "a b c d e",          # shingles: abc bcd cde -> 1/3 contaminated
        "b c d b c d",        # bcd cdb dbc (distinct: bcd, cdb, dbc, ...) -> counted once
        "p q r s",            # no overlap
        "a b",                # < 3 words -> no row
    ]
    docs = _docs(spark, rows)
    out = {r["doc_id"]: r for r in decontamination_overlap(docs, probes=probes).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0]["n_shingles"], out[0]["n_contaminated"]) == (3, 1)
    assert out[0]["overlap_fraction"] == round(1 / 3, 6)
    assert out[1]["n_contaminated"] == 1  # 'b c d' present (twice in text, once distinct)
    assert out[2]["n_contaminated"] == 0


def test_pii_scan_patterns(spark):
    """Positive cases the synthetic corpus lacks: emails, IPv4-shaped runs,
    SSN-shaped triples, long digit runs; indicator counts, not validators
    (999.999.999.999 intentionally matches the IPv4 SHAPE)."""
    from maxx_spark.operators.text import pii_scan

    rows = [
        "contact me at jane.doe+spam@example.co.uk or bob@x.io today",
        "server at 10.0.0.1 and backup 999.999.999.999 respond",
        "ssn 123-45-6789 appears once; account 9876543210 is long",
        "clean text with no identifiers at all",
    ]
    out = {r["doc_id"]: r for r in pii_scan(_docs(spark, rows)).collect()}
    assert (out[0]["n_emails"], out[0]["needs_scrub"]) == (2, 1)
    assert (out[1]["n_ipv4"], out[1]["needs_scrub"]) == (2, 1)
    assert (out[2]["n_ssn_like"], out[2]["n_long_digit_runs"], out[2]["needs_scrub"]) == (1, 1, 1)
    assert (out[3]["n_emails"], out[3]["n_ipv4"], out[3]["needs_scrub"]) == (0, 0, 0)


def test_lexical_diversity_exact(spark):
    from maxx_spark.operators.text import lexical_diversity

    rows = ["a a b c", "unique words only here"]
    out = {r["doc_id"]: r for r in lexical_diversity(_docs(spark, rows)).collect()}
    r0 = out[0]
    assert (r0["n_tokens"], r0["n_types"], r0["n_hapax"]) == (4, 3, 2)
    assert r0["ttr"] == 0.75 and r0["hapax_frac"] == round(2 / 3, 6)
    r1 = out[1]
    assert r1["ttr"] == 1.0 and r1["hapax_frac"] == 1.0


def test_duplicated_span_stats_exact(spark):
    """q60: cross-doc duplicated 5-gram fraction — one shared span counts
    for both docs, within-doc repetition does NOT count, short docs get an
    explicit 0/0 row."""
    from maxx_spark.operators.dedup import DedupIndex, duplicated_span_stats

    rows = [
        "one two three four five six",        # grams: {1-5, 2-6}; shares 1-5 with d1
        "zero one two three four five",       # grams: {0-4, 1-5}
        "totally different words here now",   # 1 unique gram
        "too short",                          # < 5 words -> no grams
        "x y z w v x y z w v",                # 5 distinct grams, all internal repeats
    ]
    idx = DedupIndex(_docs(spark, rows), n=5)
    try:
        out = {r["doc_id"]: r for r in duplicated_span_stats(idx).collect()}
    finally:
        idx.release()
    assert (out[0]["total_ngrams"], out[0]["dup_ngrams"], out[0]["dup_fraction"]) == (2, 1, 0.5)
    assert (out[1]["total_ngrams"], out[1]["dup_ngrams"], out[1]["dup_fraction"]) == (2, 1, 0.5)
    assert (out[2]["total_ngrams"], out[2]["dup_ngrams"], out[2]["dup_fraction"]) == (1, 0, 0.0)
    assert (out[3]["total_ngrams"], out[3]["dup_ngrams"], out[3]["dup_fraction"]) == (0, 0, 0.0)
    assert (out[4]["total_ngrams"], out[4]["dup_ngrams"], out[4]["dup_fraction"]) == (5, 0, 0.0)


_DEDUP_CHAIN = (
    "q12_ngram_jaccard",
    "q13_minhash_lsh",
    "q44_dedup_clusters",
    "q60_dup_span_fraction",
    "q63_source_overlap",
)


def _pinned_rdds(spark):
    """Persisted RDDs that are not local checkpoints. connected_components
    (q44) and source_ngram_overlap (q63) localCheckpoint small intermediates
    (the pair list, the source-pair counts): those RDDs belong to the
    returned DataFrame's lineage, not to any owner, and the JVM's
    ContextCleaner frees them once that DataFrame is garbage — so they are
    excluded here, and the count measures exactly what owners pin."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())


def test_dedup_index_releases_only_what_it_cached(spark):
    """Spark matches cached plans canonically, so a second owner over the
    same corpus reads the first one's cached index; its release() must
    leave that cache to the first owner, whose release() frees it."""
    from pyspark.storagelevel import StorageLevel

    from maxx_spark.operators.dedup import DedupIndex, word_shingle_keys

    docs = _docs(spark, ["one two three four", "one two three five"])
    plan = word_shingle_keys(docs, 3)  # the keys' plan, never cached itself
    first, second = DedupIndex(docs), DedupIndex(docs)
    try:
        assert first.keys.count() == second.keys.count() == 4
        second.release()
        assert plan.storageLevel != StorageLevel.NONE
    finally:
        first.release()
    assert plan.storageLevel == StorageLevel.NONE


def test_dedup_registry_release_restores_persisted_rdds(spark, sf_dir):
    """q12 -> q13 -> q44 through the session registry pin their shared
    artifacts (and q23 the golden units); release() unpersists all of
    them, back to the persisted-RDD count before the chain."""
    import __spark_entry__ as e

    e.release()
    start = _pinned_rdds(spark)
    qs = e.queries()
    for q in _DEDUP_CHAIN[:3] + ("q23_extract_units",):
        qs[q](spark, sf_dir).collect()
    assert _pinned_rdds(spark) > start
    e.release()
    assert _pinned_rdds(spark) == start


def test_dedup_registry_corpus_switch_does_not_grow(spark, sf_dir):
    """A dedup chain over sf0.001 and then sf0.01 in one session: asking
    for the second corpus releases the first one's owners, so the
    persisted-RDD count does not grow."""
    import __spark_entry__ as e

    e.release()
    start = _pinned_rdds(spark)
    qs = e.queries()
    after = []
    try:
        for sf in (sf_dir, sf_dir.replace("sf0.001", "sf0.01")):
            for q in _DEDUP_CHAIN:
                qs[q](spark, sf).collect()
            after.append(_pinned_rdds(spark))
    finally:
        e.release()
    assert after[0] > start
    assert after[1] <= after[0], after


def test_dedup_registry_order_independent(spark, sf_dir):
    """Reuse is explicit, not an accident of query order: the dedup chain
    run forward (q13 and q44 read the index q12 built, q44 the pairs q13
    built) and in reverse (q44 builds everything first, q13 and q12 read
    it) returns identical rows for every query — q44 before q13 equals
    q44 after q13."""
    import __spark_entry__ as e

    qs = e.queries()
    runs = []
    for order in (_DEDUP_CHAIN, _DEDUP_CHAIN[::-1]):
        e.release()
        runs.append({q: sorted(map(tuple, qs[q](spark, sf_dir).collect())) for q in order})
    e.release()
    assert runs[0] == runs[1]
    assert runs[0]["q44_dedup_clusters"] and runs[0]["q13_minhash_lsh"]


def test_quality_classifier_exact(spark):
    """q61: hand-computed per-mille features and BIGINT dot product.
    Row 0: 8 tokens, 7 stopwords -> stop_pm floor(7000/8)=875; 17 alpha
    chars of 24 -> alpha_pm floor(17000/24)=708; score 3*875+2*708=4041.
    Row 1: punctuation soup -> punct_pm 1000, score -4000, dropped.
    Row 2: single clean word -> alpha_pm 1000, score exactly at the 2000
    threshold boundary -> kept."""
    from maxx_spark.operators.text import quality_classifier

    rows = ["the a of to is and in or", "!!!!", "abcd"]
    out = {r["doc_id"]: r for r in quality_classifier(_docs(spark, rows)).collect()}
    r0 = out[0]
    assert (r0["stop_pm"], r0["alpha_pm"], r0["punct_pm"], r0["len_bucket"]) == (875, 708, 0, 0)
    assert (r0["q_score"], r0["keep"]) == (4041, 1)
    assert (out[1]["punct_pm"], out[1]["q_score"], out[1]["keep"]) == (1000, -4000, 0)
    assert (out[2]["alpha_pm"], out[2]["q_score"], out[2]["keep"]) == (1000, 2000, 1)


def test_token_histogram_exact(spark):
    """q62: decimal-magnitude buckets (digits of the word-token count),
    all-integer rollup per (source, bucket); single hash exchange, no
    Python stages."""
    from maxx_spark.operators.text import token_histogram
    from maxx_spark.plans import plan_summary

    rows = [
        "a b c",                      # src0: 3 tokens  -> bucket 1
        "one two three four five six seven eight nine ten eleven twelve",  # src1: 12 -> bucket 2
        "x " * 10,                    # src0: 10 tokens -> bucket 2
        "",                           # src1: 0 tokens  -> bucket 1
    ]
    out = {(r["source"], r["bucket"]): r for r in token_histogram(_docs(spark, rows)).collect()}
    assert set(out) == {("src0", 1), ("src0", 2), ("src1", 1), ("src1", 2)}
    assert (out[("src0", 1)]["n_docs"], out[("src0", 1)]["sum_tokens"]) == (1, 3)
    assert (out[("src0", 2)]["min_tokens"], out[("src0", 2)]["max_tokens"]) == (10, 10)
    assert (out[("src1", 1)]["n_docs"], out[("src1", 1)]["sum_tokens"]) == (1, 0)
    assert (out[("src1", 2)]["sum_tokens"], out[("src1", 2)]["max_tokens"]) == (12, 12)
    s = plan_summary(token_histogram(_docs(spark, rows)))
    assert s["shuffles"] == 1 and s["python_stages"] == 0


def test_source_overlap_exact(spark):
    """q63: distinct-shingle containment between sources; a shingle shared
    by MANY docs of the same pair still counts once (distinct before the
    self-join)."""
    from maxx_spark.operators.dedup import DedupIndex, source_ngram_overlap

    rows = [
        "one two three four",    # src0: {one-two-three, two-three-four}
        "one two three five",    # src1: {one-two-three, two-three-five}
        "alpha beta gamma",      # src0: {alpha-beta-gamma}
        "one two three four",    # src1: duplicate of d0's grams (multiplicity probe)
    ]
    idx = DedupIndex(_docs(spark, rows))
    try:
        out = source_ngram_overlap(idx).collect()
    finally:
        idx.release()
    assert len(out) == 1
    r = out[0]
    # src0 = {otf's 2, abg} = 3; src1 = {otf's 2 from d3, ott, tt5} = 3... see sets:
    # src0 grams {o-t-t, t-t-f, a-b-g} = 3; src1 grams {o-t-t, t-t-5, t-t-f} = 3
    assert (r["source_a"], r["source_b"]) == ("src0", "src1")
    assert (r["n_a"], r["n_b"], r["n_shared"]) == (3, 3, 2)
    assert r["containment_pm"] == 666  # floor(1000*2/3)


def test_length_percentiles_exact(spark):
    """q67: percentile_disc semantics on the bounded histogram — smallest
    n_chars whose cumulative count reaches ceil(pm/1000 * n); integer-ceil
    rank (no float); per-source isolation."""
    from maxx_spark.operators.text import length_percentiles

    # src0 gets doc lengths 1..10 (doc_ids even), src1 a single length-5 doc
    rows = [("x" * L) for L in [1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 5]]
    docs = spark.createDataFrame(
        [(i, t, "en", "src0" if i < 10 else "src1", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["source"]: r for r in length_percentiles(docs).collect()}
    # src0: n=10; p50 -> rank ceil(5.0)=5 -> 5th smallest = 9
    # p90 -> rank 9 -> 17; p99 -> rank ceil(9.9)=10 -> 19
    assert (out["src0"]["n_docs"], out["src0"]["p50"], out["src0"]["p90"], out["src0"]["p99"]) == (10, 9, 17, 19)
    # src1: single doc -> every percentile is that value
    assert (out["src1"]["n_docs"], out["src1"]["p50"], out["src1"]["p99"]) == (1, 5, 5)


def test_dedup_capped_pairs_exact(spark):
    """q12 on a five-doc corpus, checked against hand-derived pairs.

    Word 3-gram shingles (t1..t6 shared by d0/d1/d3, t7 "the lazy dog",
    t8 "the lazy cat"):
      d0 = d3 = {t1..t7} (7), d1 = {t1..t6, t8} (7),
      d2 = 8 unique shingles, d4 = 3 distinct shingles repeated 30x.
    Doc frequencies: t1..t6 -> 3, t7 -> 2, every other shingle -> 1 (d4's
    in-doc repeats count once).

    max_df=3 keeps every shingle:
      (0,1): inter 6, union 7+7-6 = 8;  (0,3): inter 7, union 7;
      (1,3): inter 6, union 8;  d2 and d4 share nothing.
    max_df=2 drops t1..t6: d0 = d3 = {t7}, d1 = {t8}, so only
      (0,3): inter 1, union 1 survives.
    """
    from maxx_spark.operators.dedup import DedupIndex, ngram_jaccard_pairs

    rows = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different text with no shared grams at all here",
        "the quick brown fox jumps over the lazy dog",  # exact dup of d0
        " ".join(["viral gram here"] * 30),  # repeated shingle inside one doc
    ]
    docs = _docs(spark, rows)
    for max_df, want in ((3, [(0, 1, 6, 8), (0, 3, 7, 7), (1, 3, 6, 8)]), (2, [(0, 3, 1, 1)])):
        idx = DedupIndex(docs, max_df=max_df)
        try:
            assert [tuple(r) for r in ngram_jaccard_pairs(idx).collect()] == want, max_df
        finally:
            idx.release()


def _kept_sequential(spec, delay_min):
    """Sequential reference of drop_late_events over (event_id, minutes)
    pairs: arrival order = event_id; watermark = running max(ts) over
    strictly-earlier arrivals minus delay; late iff ts < watermark."""
    kept, mx = [], None
    for eid, mins in sorted(spec):
        if mx is None or mins >= mx - delay_min:
            kept.append(eid)
        mx = mins if mx is None else max(mx, mins)
    return kept


def _drop_late_ids(spark, spec, delay_min):
    import datetime as dt

    from maxx_spark.operators.windows import drop_late_events

    base = dt.datetime(2024, 1, 1)
    rows = [(eid, base + dt.timedelta(minutes=mins), eid % 3, "t", 1.0) for eid, mins in spec]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    return sorted(
        r["event_id"]
        for r in drop_late_events(events, delay=f"{delay_min} minutes").collect()
    )


def test_drop_late_events_matches_sequential_reference(spark):
    """r7: drop_late_events switched from sampled range partitions to
    deterministic event_id chunks — pin the kept set against a sequential
    reference (arrival order = event_id; watermark = running max(ts) over
    strictly-earlier arrivals minus delay; late iff ts < wm), including
    sparse/skewed id spaces and an all-late tail."""
    # sparse, non-contiguous ids; ts deliberately out of order with a late
    # straggler far behind the running max
    spec = [
        (3, 0), (10, 50), (11, 40), (500, 45), (501, 2), (502, 55),
        (90_000, 56), (90_001, 30), (90_002, 57), (90_003, 58),
    ]
    kept_ref = _kept_sequential(spec, 10)
    assert _drop_late_ids(spark, spec, 10) == kept_ref, kept_ref


def test_drop_late_events_sparse_id_space(spark):
    """ids 0, 1, 2, 10**12, 10**12 + 1: the equal-width chunks put three
    rows in the first chunk and two in the last, with empty chunks between
    — only the balance suffers. Event 2 is late (ts 5 < 30 - 10); in the
    last chunk, whose watermark comes from the first chunk's max, 10**12 is
    kept (25 >= 20) and 10**12 + 1 is late (12 < 20); the result equals
    the sequential reference."""
    spec = [(0, 0), (1, 30), (2, 5), (10**12, 25), (10**12 + 1, 12)]
    assert _kept_sequential(spec, 10) == [0, 1, 10**12]
    assert _drop_late_ids(spark, spec, 10) == [0, 1, 10**12]
