"""Unit tests for the dataset-assembly operators (q46-q49). The DuckDB
oracle compare covers end-to-end values; these pin the semantic properties
the oracle mirror alone can't certify — content-keyed split stability,
prefix-sum packing arithmetic, mixture-weight rebalancing, ntile fairness.
"""

import math

from pyspark.sql import functions as F


def _docs(spark, rows):
    """rows: list of (doc_id, text, lang, source)."""
    return spark.createDataFrame(
        [(i, t, lg, src, len(t)) for (i, t, lg, src) in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_hash_split_content_keyed_and_partitioned(spark):
    """Byte-variant duplicates (case/whitespace/punct) land in the SAME
    split; buckets are in [0,100); labels follow the bucket thresholds."""
    from maxx_spark.operators.corpus import hash_split

    rows = [
        (0, "The quick brown fox jumps over the lazy dog", "en", "a"),
        (1, "the QUICK  brown fox\tjumps over the lazy dog!!", "en", "b"),  # same content
        (2, "a completely different document body here", "en", "a"),
        (3, "", "en", "a"),
    ]
    out = {r["doc_id"]: r for r in hash_split(_docs(spark, rows)).collect()}
    assert len(out) == 4
    assert out[0]["bucket"] == out[1]["bucket"] and out[0]["split"] == out[1]["split"]
    for r in out.values():
        assert 0 <= r["bucket"] < 100
        expect = "train" if r["bucket"] < 90 else ("val" if r["bucket"] < 95 else "test")
        assert r["split"] == expect


def test_hash_split_stable_under_growth(spark):
    """Adding documents never moves an existing doc's split."""
    from maxx_spark.operators.corpus import hash_split

    base = [(i, f"document number {i} with body text {i * 7}", "en", "a") for i in range(20)]
    small = {r["doc_id"]: r["split"] for r in hash_split(_docs(spark, base)).collect()}
    grown = base + [(100 + i, f"new doc {i}", "en", "b") for i in range(20)]
    big = {r["doc_id"]: r["split"] for r in hash_split(_docs(spark, grown)).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_sequence_packing_prefix_sums_and_spans(spark):
    """tok_offset is the exact running sum per source in doc_id order;
    span arithmetic matches a hand-rolled concat-and-chunk; empty docs
    occupy zero sequences."""
    from maxx_spark.operators.corpus import sequence_packing

    # token counts by construction: 'w0 w1 ... w(n-1)' has n regex tokens
    def body(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        (0, body(100), "en", "a"),
        (1, body(200), "en", "a"),
        (2, "", "en", "a"),          # zero tokens mid-stream
        (3, body(300), "en", "a"),   # crosses a 256 boundary
        (4, body(10), "en", "b"),    # second source: independent offsets
    ]
    out = {r["doc_id"]: r for r in sequence_packing(_docs(spark, rows), budget=256).collect()}
    # per-source running offsets
    assert [out[i]["tok_offset"] for i in range(4)] == [0, 100, 300, 300]
    assert out[4]["tok_offset"] == 0
    # doc 1 spans tokens [100, 300) -> sequences 0..1
    assert (out[1]["seq_first"], out[1]["seq_last"], out[1]["n_seqs"]) == (0, 1, 2)
    # empty doc: zero span, anchored at its offset's sequence
    assert (out[2]["n_tok"], out[2]["n_seqs"]) == (0, 0)
    assert out[2]["seq_first"] == out[2]["seq_last"] == 300 // 256
    # doc 3 spans [300, 600) -> sequences 1..2
    assert (out[3]["seq_first"], out[3]["seq_last"], out[3]["n_seqs"]) == (1, 2, 2)
    # total sequence count agrees with ceil(total/budget)
    total = 100 + 200 + 300
    assert max(out[i]["seq_last"] for i in range(4)) == math.ceil(total / 256) - 1


def test_mixture_weights_rebalance_to_uniform(spark):
    """weight(s) * tokens(s) is the same for every source (that's the
    definition of rebalancing to a uniform token mixture), and shares sum
    to 1."""
    from maxx_spark.operators.corpus import mixture_weights

    rows = [
        (0, " ".join(["tok"] * 50), "en", "big"),
        (1, " ".join(["tok"] * 30), "en", "big"),
        (2, " ".join(["tok"] * 10), "en", "mid"),
        (3, " ".join(["tok"] * 10), "en", "tiny"),
    ]
    out = {r["source"]: r for r in mixture_weights(_docs(spark, rows)).collect()}
    assert out["big"]["n_tokens"] == 80 and out["big"]["n_docs"] == 2
    assert abs(sum(r["token_share"] for r in out.values()) - 1.0) < 1e-6
    masses = [r["weight"] * r["n_tokens"] for r in out.values()]
    assert max(masses) - min(masses) < 1e-3
    # uniform target: each source's rebalanced mass = total / n_src
    assert abs(masses[0] - 100 / 3) < 1e-3


def test_segment_dedup_counts_and_short_docs(spark):
    """Docs sharing a segment-aligned 10-word run are flagged; fractions
    are exact; sub-k docs emit no row (zero segments)."""
    from maxx_spark.operators.dedup import segment_dedup

    shared = " ".join(f"s{i}" for i in range(10))          # one shared segment
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (0, shared + " " + uniq("a", 10), "en", "x"),      # seg0 shared, seg1 unique
        (1, shared + " " + uniq("b", 10), "en", "x"),      # seg0 shared, seg1 unique
        (2, uniq("c", 25), "en", "x"),                     # 2 segments, none shared
        (3, uniq("d", 7), "en", "x"),                      # < 10 words -> no row
    ]
    out = {r["doc_id"]: r for r in segment_dedup(_docs(spark, rows), k=10).collect()}
    assert set(out) == {0, 1, 2}
    for i in (0, 1):
        assert (out[i]["n_segments"], out[i]["n_dup_segments"]) == (2, 1)
        assert out[i]["dup_fraction"] == 0.5
    assert (out[2]["n_segments"], out[2]["n_dup_segments"]) == (2, 0)


def test_mixture_sample_replication_counts(spark):
    """floor(weight) copies are guaranteed; the fractional copy is a salted
    hash draw — deterministic under the same salt, E[n_copies]=weight at the
    source level. Weights chosen exactly representable: A=0.5 -> {0,1},
    B=1.5 -> {1,2}."""
    from maxx_spark.operators.corpus import mixture_sample

    # tokens: A=30, B=10 -> total=40, n_src=2 -> wA=40/60=2/3... use exact:
    # A=20, B=... want wA=0.5: total/(2*tA)=0.5 -> total=tA -> tB=0. Use
    # 3 sources: tA=30, tB=10, tC=20 -> total=60, wA=60/90=2/3 (inexact but
    # floor/frac still deterministic). Simplest exact: tA=40, tB=10 ->
    # total=50, wA=50/80=0.625, wB=50/20=2.5 — both dyadic-exact.
    rows = (
        [(i, " ".join(["tok"] * 8), "en", "A") for i in range(5)]       # 5*8=40 tokens
        + [(10 + i, " ".join(["tok"] * 5), "en", "B") for i in range(2)]  # 2*5=10
    )
    out = {r["doc_id"]: r for r in mixture_sample(_docs(spark, rows)).collect()}
    assert all(out[i]["n_copies"] in (0, 1) for i in range(5))          # wA=0.625
    assert all(out[10 + i]["n_copies"] in (2, 3) for i in range(2))     # wB=2.5
    again = {r["doc_id"]: r["n_copies"] for r in mixture_sample(_docs(spark, rows)).collect()}
    assert again == {k: v["n_copies"] for k, v in out.items()}
    diff = {r["doc_id"]: r["n_copies"] for r in mixture_sample(_docs(spark, rows), salt="epoch1").collect()}
    assert set(diff) == set(again)  # same docs either way


def test_shard_assignment_content_keyed_balance(spark):
    """Shards are in range, shares sum to 1, and byte-variant duplicates
    hash to the SAME shard (content-keyed)."""
    from maxx_spark.operators.corpus import hash_split, shard_assignment

    rows = [(i, f"document body number {i} with words {i * 3}", "en", "s") for i in range(40)]
    rows += [(100, "The Quick  Brown FOX", "en", "s"), (101, "the quick brown fox!!", "en", "s")]
    out = shard_assignment(_docs(spark, rows), n_shards=8).collect()
    assert all(0 <= r["shard"] < 8 for r in out)
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-5
    assert sum(r["n_docs"] for r in out) == 42
    # content-keyed: the two fox variants contribute to one shard together —
    # remove them and exactly ONE shard's n_docs drops by 2
    base = {r["shard"]: r["n_docs"] for r in shard_assignment(_docs(spark, rows[:-2]), n_shards=8).collect()}
    cur = {r["shard"]: r["n_docs"] for r in out}
    drops = [s for s in cur if cur[s] - base.get(s, 0) != 0]
    assert len(drops) == 1 and cur[drops[0]] - base.get(drops[0], 0) == 2


def test_quality_stratify_ntile_fairness(spark):
    """Within each language: bucket sizes differ by <=1, buckets are
    contiguous under the (quality desc, doc_id) order, and bucket 1 holds
    the best-quality docs."""
    from maxx_spark.operators.corpus import quality_stratify

    good = ("the cat and the dog is of a kind to all in the end, "
            "and the story is told in a calm way of the old land.")
    rows = []
    for i in range(17):
        # alternate good text with junk (no stopwords, heavy punct)
        text = good if i % 2 == 0 else "!!! ??? ;;; ::: ,,," * 3
        rows.append((i, text, "en" if i < 12 else "de", f"s{i % 3}"))
    out = quality_stratify(_docs(spark, rows), n_buckets=4).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        sizes = {}
        for r in rs:
            sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        # recompute expected ntile by hand
        order = sorted(rs, key=lambda r: (-r["quality"], r["doc_id"]))
        n, k = len(order), 4
        expect = []
        big, rem = divmod(n, k)
        for b in range(k):
            expect += [b + 1] * (big + (1 if b < rem else 0))
        assert [r["bucket"] for r in order] == expect, lang


def test_sequence_packing_bounded_shard_key(spark):
    """The packing window partitions by (source, shard), never source
    alone: a single-source corpus fans out over multiple window partitions,
    and the emitted offsets are IDENTICAL to the source-global running sum
    (shard = doc_id DIV k is monotone in doc_id)."""
    from maxx_spark.operators.corpus import sequence_packing
    from maxx_spark.plans import executed_plan

    rows = [(i, " ".join(f"w{j}" for j in range(5 + i % 7)), "en", "mega") for i in range(64)]
    docs = _docs(spark, rows)
    sharded = sequence_packing(docs, budget=16, shard_size=8)
    # one source, 64 docs, shard_size 8 -> 8 live window partitions
    n_shards = docs.select(F.expr("doc_id DIV 8").alias("s")).distinct().count()
    assert n_shards == 8
    plan = executed_plan(sharded)
    assert "__shard" in plan, "packing window must partition by (source, shard)"
    # offsets equal the unbounded-key formulation (shard_size larger than
    # the corpus degenerates to one shard per source = the old plan)
    got = {r["doc_id"]: tuple(r) for r in sharded.collect()}
    want = {r["doc_id"]: tuple(r) for r in sequence_packing(docs, budget=16, shard_size=1 << 40).collect()}
    assert got == want


def test_quality_stratify_methods_agree(spark):
    """The distributed-rank plan and the literal ntile window assign
    IDENTICAL buckets — including a language with fewer docs than buckets
    (ntile's q=0 edge)."""
    from pyspark.sql import Window

    from maxx_spark.operators.corpus import quality_stratify
    from maxx_spark.operators.text import quality_parts

    good = ("the cat and the dog is of a kind to all in the end, "
            "and the story is told in a calm way of the old land.")
    rows = []
    for i in range(40):
        text = good if i % 3 == 0 else ("!!! ??? ;;;" * (1 + i % 4))
        lang = ["en", "en", "en", "de", "fr"][i % 5]  # fr sparse
        rows.append((i, text, lang, f"s{i % 3}"))
    rows += [(100, good, "xx", "s0"), (101, "??? !!!", "xx", "s0")]  # n=2 < 10 buckets
    docs = _docs(spark, rows)
    # NULL language: its own ntile partition in the window path — the rank
    # path must keep it too (null-safe join)
    null_lang = spark.createDataFrame(
        [(200, good, None, "s0", len(good)), (201, good + " more", None, "s0", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = docs.unionByName(null_lang)
    key = lambda t: (t[0] is None, t[0] or "", t[1:])
    ranked = sorted(map(tuple, quality_stratify(docs).collect()), key=key)
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id"))
    ref = docs.select(
        "lang", "doc_id", quality_parts(F.col("text"))["composite"].alias("quality")
    ).select("lang", "doc_id", "quality", F.ntile(10).over(w).alias("bucket"))
    ntile = sorted(map(tuple, ref.collect()), key=key)
    assert ranked == ntile
    assert sum(1 for t in ranked if t[0] is None) == 2  # null-lang rows kept


def test_training_pipeline_composes_to_one_scan(spark, sf_dir):
    """q59: gate -> dedup -> split -> pack fuses into one Catalyst plan —
    the packing fan-out reuses its exchange (no rescan of the gated
    corpus), no Python stage, and the output respects the stage order."""
    from maxx_spark.operators.corpus import hash_split, training_pipeline
    from maxx_spark.plans import executed_plan, plan_summary
    from maxx_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = training_pipeline(docs)
    rows = out.collect()  # finalize AQE
    p = executed_plan(out)
    # the packing fan-out (within-shard window vs shard totals) must REUSE
    # the (source, shard) exchange, not rescan the gated corpus; counting
    # FileScan strings is unreliable under AQE's nested plan reprints
    assert "ReusedExchange" in p
    assert plan_summary(out)["python_stages"] == 0
    ids = {r["doc_id"] for r in rows}
    assert 0 < len(ids) < docs.count()  # the chain actually filtered
    # every emitted doc is in the train split (composition respected)
    train_ids = {r["doc_id"] for r in hash_split(docs).collect() if r["split"] == "train"}
    assert ids <= train_ids
