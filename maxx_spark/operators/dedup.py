"""Deduplication operators over the documents table.

- exact_dedup: hash-groupBy on md5(text) — one shuffle on a uniform key.
- ngram_jaccard_pairs: exact near-dup pairs via shingle inverted index —
  explode shingles, self-join on shingle, count intersections, Jaccard.
- minhash_lsh_pairs: MinHash + banded LSH candidate generation, verified
  with exact Jaccard — the scale path (the shingle self-join above is
  quadratic in shingle-frequency; LSH bounds the join to band-bucket
  collisions).
- DedupIndex: the one owner of the artifacts those consumers share over a
  corpus (shingle-key index, df-capped index, MinHash bands and verified
  pairs) — built and pinned on first use, freed by release(). The
  operators take an owner and never persist anything themselves.
- simhash32: 32-bit SimHash fingerprint per document (32 bits keeps every
  per-bit conditional sum in one BIGINT expression tree; the (h >> i) & 1
  construction generalizes to 64 if ever needed).

All hashing is deterministic and engine-agnostic: integer hashes are the
first 14 hex digits of md5 (56 bits), computed with built-in functions only
(``conv(substring(md5(x),1,14),16,10)`` in Spark ≡
``('0x' || substr(md5(x),1,14))::BIGINT`` in ANSI/DuckDB) — no Python UDFs,
the whole plan stays in codegen.

Scale notes: the inverted-index join explodes |doc| x |shingles| rows; at
100 TB that join must be salted if any shingle is ultra-frequent — we cap
per-shingle fanout with a frequency filter (stop-shingles carry no signal
for near-dup detection anyway, standard practice in MinHash pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# 61-bit Mersenne prime — all minhash arithmetic stays < 2^63 after mod.
_P = (1 << 61) - 1


def normalized(col):
    """Deterministic text normalization: lower, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col):
    """The normalized word split every word-level operator tokenizes with."""
    return F.split(normalized(col), " ")


def text_hash(col):
    """Content key of exact dedup: md5 of the normalized text."""
    return F.md5(normalized(col))


def canonical_ids(docs: DataFrame) -> DataFrame:
    """doc_id of the canonical copy (min doc_id) per ``text_hash`` of docs.

    A slim rollup for a doc_id semi-join, never a window on the content
    hash: a viral duplicate (the very thing dedup exists for) would funnel
    every full-text copy into one window partition, and AQE can split
    skewed join partitions but never window partitions. The (hash, min
    doc_id) agg combines map-side, and the join back runs on uniform
    doc_id keys, so full text crosses the wire once."""
    return (
        docs.select("doc_id", text_hash(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup: canonical representative (min doc_id) per distinct
    normalized text. groupBy on md5 → uniform key distribution, map-side
    combine, no skew."""
    return (
        documents.withColumn("text_hash", text_hash(F.col("text")))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
        .orderBy("canonical_doc_id")
    )


def _word_ngrams(documents: DataFrame, n: int, wrap) -> DataFrame:
    """(doc_id, shingle) distinct pairs over word ``n``-grams, each n-gram
    passed through ``wrap`` INSIDE the array transform. Pure built-ins:
    split once (projected so it isn't recomputed per lambda), slide via
    transform over an index range, element_at + concat_ws per position —
    element_at is O(1) array indexing where slice() copies a sub-array per
    shingle (measured 3.6x faster at sf0.1, identical output).

    Within-doc dedup happens LOCALLY via array_distinct before the explode
    (a doc's shingle multiset lives in one row), so the output is distinct
    by construction with ZERO exchanges — a global ``.distinct()`` would
    shuffle the whole exploded index, the single largest intermediate in
    the dedup pipeline.
    """
    d = documents.select("doc_id", words(F.col("text")).alias("__w"))
    w = F.col("__w")
    # guard: Spark sequence(0, -1) yields a *descending* [0,-1], so short
    # texts must map to an empty index array explicitly
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)
    ).otherwise(F.expr("array()").cast("array<int>"))
    sh = F.transform(
        idx, lambda i: wrap(F.concat_ws(" ", *[F.element_at(w, i + k + 1) for k in range(n)]))
    )
    return d.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


def word_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs with the n-gram STRING as shingle
    (decontamination_overlap matches it against probe text)."""
    return _word_ngrams(documents, n, lambda g: g)


def word_shingle_keys(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs where ``shingle`` is the 56-bit
    md5i INTEGER key of the word n-gram — the dedup-index form (r4 VERDICT
    item 5): every downstream exchange (the df count, the inverted-index
    self-join, the candidate verify) moves 8-byte longs instead of the
    n-gram strings (~25-40 bytes at n=3), and the minhash stage reuses the
    key directly instead of re-hashing per row. md5i (not xxhash64) so the
    DuckDB oracle reproduces the keyspace bit-exactly — hash collisions
    (~n²/2^57) merge the same shingles on both engines, and array_distinct
    collapses them locally exactly as DISTINCT-over-hash does there.
    """
    return _word_ngrams(documents, n, md5i)


def _capped_shingles(idx: DataFrame, max_df: int) -> DataFrame:
    """Shingle index with stop-shingle removal: shingles occurring in more
    than ``max_df`` documents are dropped *before* the self-join. A shingle
    shared by d docs contributes d^2 join rows — without the cap one viral
    shingle at web scale turns the join quadratic; with it the per-shingle
    fanout is bounded by max_df^2. Jaccard is then computed on the filtered
    shingle universe (applied identically in the SQL oracle).

    The df comes from a map-side-combined groupBy (a viral shingle is a
    per-partition partial, never one task's row pile) and the surviving
    shingle keys semi-join back: the join output is shingle-partitioned, so
    the downstream self-join reuses its exchange, and every skewed stage is
    AQE-splittable (a count-window over shingle was a wash on the keyed
    index, r6 A/B, and AQE cannot split window partitions)."""
    dfc = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return idx.join(dfc.where(F.col("__df") <= max_df).select("shingle"), "shingle")


def _jaccard_verify(sh: DataFrame, inter: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard tail shared by both pair operators: attach per-doc
    shingle counts of ``sh`` to ``inter`` (doc_a, doc_b, inter_size), keep
    pairs at or above ``threshold`` and emit (doc_a, doc_b, inter_size,
    union_size) ordered by (doc_a, doc_b).

    Sizes attach via SHUFFLE joins keyed by doc id, never a broadcast hint —
    `sizes` has one row per document, and a broadcast must fit absolutely:
    at 10^9+ docs a broadcast(sizes) is a guaranteed driver OOM, while the
    shuffle join moves only (doc_a, doc_b, ints) pairs one extra exchange.
    (AQE may still auto-broadcast at small SF — that decision is size-based
    at runtime, not a hint forcing it at any scale.) The Jaccard ratio is
    re-derivable exactly from the two integers, so no float leaves."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn("union_size", F.col("n_a") + F.col("n_b") - F.col("inter_size"))
        .where(F.col("inter_size") * F.lit(1.0) / F.col("union_size") >= threshold)
        .select("doc_a", "doc_b", "inter_size", "union_size")
        .orderBy("doc_a", "doc_b")
    )


class DedupIndex:
    """Owner of the artifacts the dedup operators share over ONE corpus at
    one ``n`` (q12 n-gram Jaccard, q13 MinHash-LSH, q44 clusters, q63
    source overlap; q60 reads only its corpus and n): the md5i index
    (``keys``), its df-capped form (``capped``) and, per MinHash setting,
    the banded table, candidate shingles and verified pairs
    (``minhash_pairs``).

    Each artifact is built and ``cache()``d on FIRST use, so it
    materializes inside the first consumer's job and no cost moves outside
    that consumer's clock; later consumers read the pinned table.
    ``release()`` unpersists all of them and the next use rebuilds them.
    Operators never persist anything themselves. Spark matches cached plans
    canonically, so an artifact whose plan other code already cached is
    read from that cache and left to it on release(); keep one owner per
    corpus so every artifact has exactly one.
    """

    def __init__(self, documents: DataFrame, n: int = 3, max_df: int = 64):
        self.documents = documents
        self.n = n
        self.max_df = max_df
        self._pinned: dict = {}
        self._owned: list[DataFrame] = []

    def _pin(self, key, build) -> DataFrame:
        if key not in self._pinned:
            df = build()
            if df.storageLevel == StorageLevel.NONE:
                self._owned.append(df)
            self._pinned[key] = df.cache()
        return self._pinned[key]

    def release(self) -> None:
        """Unpersist every artifact this owner cached; the next use
        rebuilds it."""
        for df in self._owned:
            df.unpersist()
        self._owned.clear()
        self._pinned.clear()

    @property
    def keys(self) -> DataFrame:
        """word_shingle_keys at ``n``, read by q12/q13/q63 and twice by the
        df cap (idx ⨝ df-rollup(idx)); unpinned, each read re-scans and
        re-hashes the corpus, the heaviest map work here."""
        return self._pin("keys", lambda: word_shingle_keys(self.documents, self.n))

    @property
    def capped(self) -> DataFrame:
        """``keys`` without stop-shingles (_capped_shingles): the universe
        q12 and q13's verify both compute Jaccard on."""
        return self._pin("capped", lambda: _capped_shingles(self.keys, self.max_df))

    def minhash_pairs(self, num_hashes: int, bands: int, threshold: float) -> DataFrame:
        """Verified MinHash-LSH pairs (see minhash_lsh_pairs): the artifact
        clustering and reporting re-read, orders of magnitude smaller than
        the index that produced it."""
        return self._pin(
            ("pairs", num_hashes, bands, threshold),
            lambda: self._verify_candidates(num_hashes, bands, threshold),
        )

    def _banded(self, num_hashes: int, bands: int) -> DataFrame:
        """(doc_id, band_id, band_hash), pinned: the candidate self-join
        reads it on both sides and would otherwise run the signature
        aggregation once PER SIDE (measured 2x at sf0.1). The mins and band
        hashes are compact SQL strings: the chained-Column form cost ~3.5 s
        of py4j/driver time per build (r7, identical analyzed plans)."""

        def build():
            r = num_hashes // bands
            mins = [
                F.expr(f"min(({a} * (shingle % {1 << 31}) + {b}) % {_P})").alias(f"h{i}")
                for i, (a, b) in enumerate(minhash_params(num_hashes))
            ]
            band_md5 = ", ".join(
                "md5(concat_ws(',', {cols}))".format(
                    cols=", ".join(f"cast(h{bi * r + j} as string)" for j in range(r))
                )
                for bi in range(bands)
            )
            return self.keys.groupBy("doc_id").agg(*mins).selectExpr(
                "doc_id", f"posexplode(array({band_md5})) as (band_id, band_hash)"
            )

        return self._pin(("banded", num_hashes, bands), build)

    def _verify_candidates(self, num_hashes: int, bands: int, threshold: float) -> DataFrame:
        banded = self._banded(num_hashes, bands)
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["band_id", "band_hash"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .distinct()
        )
        # Exact verification of candidates only: the GLOBAL capped universe
        # (df is corpus-wide by definition, as in the oracle) restricted to
        # candidate docs, joined without a broadcast hint (AQE broadcasts
        # the id set at runtime when small). At corpus scale the verify
        # shuffle carries O(candidate shingles), not the whole index; at
        # local scale it was a wash (r7 A/B at sf0.1/local[32]: q13 +4 s,
        # q44 -4 s). Pinned: the sizes and the intersection both read it.
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh = self._pin(
            ("cand_shingles", num_hashes, bands), lambda: self.capped.join(cand_ids, "doc_id")
        )
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            cand.join(a, "doc_a").join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter_size"))
        )
        return _jaccard_verify(sh, inter, threshold)


def ngram_jaccard_pairs(index: DedupIndex, threshold: float = 0.05) -> DataFrame:
    """Exact Jaccard near-dup pairs via inverted index self-join on the
    owner's stop-shingle-filtered universe (``index.capped``, see
    _capped_shingles).

    |A∩B| from the shingle join; |A|,|B| from per-doc counts (see
    _jaccard_verify). Emits (doc_a, doc_b, inter_size, union_size) with
    doc_a < doc_b.
    """
    sh = index.capped
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return _jaccard_verify(sh, inter, threshold)


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """The deterministic MinHash (a_i, b_i) for h_i(x) = (a_i*x + b_i) mod P
    (odd multipliers, fixed literals) — one list shared by minhash_lsh_pairs
    and the DuckDB oracle. Callers reduce x mod 2^31 first; with these
    small a_i, a_i*x + b_i then stays in long range."""
    return [((2 * i + 1) * 1_000_003 % _P, (i * i + i + 1) * 998_244_353 % _P) for i in range(num_hashes)]


def md5i(col, nhex: int = 14):
    """Deterministic 56-bit integer hash usable identically in Spark and
    ANSI SQL: first ``nhex`` hex digits of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(col), 1, nhex), 16, 10).cast("long")


def minhash_lsh_pairs(
    index: DedupIndex, num_hashes: int = 32, bands: int = 8, threshold: float = 0.05
) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact Jaccard (the 100 TB
    dedup path): band the signature (rows_per_band = num_hashes/bands),
    bucket-join on (band_id, band_hash), then verify candidates exactly.

    Verification joins back to the shingle index only for candidate pairs —
    at scale this is the difference between O(candidates) and O(n^2). The
    pipeline and its pinned stages live in DedupIndex.minhash_pairs.
    """
    return index.minhash_pairs(num_hashes, bands, threshold)


def dedup_clusters(
    index: DedupIndex, num_hashes: int = 32, bands: int = 8, threshold: float = 0.05, max_iters: int = 20
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash-LSH pair graph, labelling every clustered doc with the min
    doc_id of its component (the canonical representative a training
    pipeline keeps). Emits (doc_id, cluster_id, cluster_size) for docs
    that belong to a component of >= 2. Near-dup components are copies of
    the same content (mostly cliques through the canonical text), so the
    distributed star loop settles in a few rounds; see
    connected_components for the solve.
    """
    pairs = minhash_lsh_pairs(
        index, num_hashes=num_hashes, bands=bands, threshold=threshold
    ).select("doc_a", "doc_b")
    return connected_components(pairs, max_iters=max_iters)


def connected_components(
    pairs: DataFrame, max_iters: int = 20, local_threshold: int = 100_000
) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair list →
    (doc_id, cluster_id, cluster_size), cluster_id = component min; exposed
    separately so the iteration is testable on crafted chain graphs.

    Adaptive solve (the AQE-broadcast pattern, decided on the RUNTIME edge
    count, never assumed): the pair list is materialized once
    (localCheckpoint — also cuts the lineage to the expensive dedup plan),
    and when it is at most ``local_threshold`` edges the components are
    solved driver-side with union-find — identical output, none of the
    per-round join/checkpoint/probe jobs. Above the threshold the
    distributed loop runs; a near-dup pair graph at corpus scale can be
    arbitrarily large, so that is the default shape, not a fallback.

    The distributed loop is large-star/small-star (_cc_star, Kiveris et
    al. 2014): O(log^2 n) rounds on any graph, whatever its diameter. It
    raises RuntimeError if it has not settled within ``max_iters`` rounds
    rather than return partial labels. Both paths label identically
    (test-pinned against union-find).
    """
    pairs = pairs.localCheckpoint()
    n_edges = pairs.count()
    if n_edges <= local_threshold:
        return _cc_unionfind_local(pairs)
    a, b = pairs.columns[0], pairs.columns[1]
    undirected = pairs.select(F.col(a).alias("doc_a"), F.col(b).alias("doc_b"))
    labels, _ = _cc_star(undirected, max_iters)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _cc_star(pairs: DataFrame, max_iters: int):
    """Alternating large-star/small-star loop → ((doc_id, label), rounds).

    large-star: every node u re-points its LARGER neighbors at
    m(u) = min(N(u) ∪ {u}); small-star: orient edges high→low, every high
    node re-points its smaller neighbors (and itself) at the neighborhood
    min. Each half-round is one groupBy(min-agg) + one join, and the edge
    set monotonically contracts toward per-component stars (node,
    component-min). Converges in O(log^2 n) rounds on ANY graph; the
    convergence probe is the edge multiset checksum (count + order-free
    hashes), which is stationary exactly at the star fixpoint. Reaching
    ``max_iters`` before the checksum settles raises RuntimeError: the
    edges are then still mid-contraction and their labels are wrong.
    """
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    ).distinct().localCheckpoint()
    edges = (
        pairs.where(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .distinct()
        .localCheckpoint()
    )

    def _checksum(e):
        # order-free set checksum: count + two independent xor-folded hashes
        # (xor never overflows — a SUM of hashes could trip ANSI overflow)
        row = e.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(hi, lo))"),
            F.expr("bit_xor(xxhash64(lo, hi))"),
        ).first()
        return tuple(row)

    prev = None
    for rounds in range(1, max_iters + 1):
        # large-star over the symmetrized graph: (v, m(u)) for v ∈ N(u), v > u
        sym = edges.unionByName(
            edges.select(F.col("lo").alias("hi"), F.col("hi").alias("lo"))
        ).select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", "u").alias("m"))
        edges = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        # small-star on the high→low orientation: (v, m(u)) for
        # v ∈ N(u) ∪ {u} \ {m}, where N(u) = smaller neighbors of u
        m2 = edges.groupBy("hi").agg(F.min("lo").alias("m"))
        relink = (
            edges.join(m2, "hi")
            .where(F.col("lo") != F.col("m"))
            .select(F.greatest("lo", "m").alias("hi"), F.least("lo", "m").alias("lo"))
        )
        selflink = m2.select(F.col("hi"), F.col("m").alias("lo"))
        edges = relink.unionByName(selflink).distinct().localCheckpoint()
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components did not converge in max_iters={max_iters} rounds"
        )
    # fixpoint edges are per-component stars: hi → component min, so the
    # min-agg is the identity and yields one row per non-root node
    final = edges.groupBy(F.col("hi").alias("doc_id")).agg(F.min("lo").alias("label"))
    labels = nodes.join(final, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("label")
    )
    return labels, rounds


def segment_dedup(documents: DataFrame, k: int = 10, salts: int = 32) -> DataFrame:
    """CCNet-style sub-document dedup rollup: each document is cut into
    consecutive non-overlapping ``k``-word segments (the line/paragraph
    analogue for boundary-free web text); a segment is DUPLICATED when its
    normalized text occurs more than once corpus-wide. Emits, per document:
    segment count, duplicated-segment count, and the fraction of segments a
    line-dedup pass would drop — the per-doc signal CCNet thresholds on.

    Plan — hashed keys, skew-proof dup flags (the _capped_shingles df-cap
    idea adapted to a flag that cannot be dropped):

    1. segments build locally (element_at composition — no per-position
       array copies, no Python) and are immediately hashed to the 56-bit
       md5i int — every downstream exchange/compare moves 8 bytes, never
       the segment string (mirrored in the oracle, so hash collisions —
       ~n²/2^57 — affect both engines identically);
    2. occurrence counts via groupBy(hash): partial aggregation combines
       map-side, so a viral boilerplate segment reaches its reducer as one
       partial row per map task — a count-WINDOW here (the old shape) would
       instead shuffle every raw occurrence of the hot segment into a
       single partition;
    3. the dup SET (count > 1 — the flag saturates, exact counts are never
       needed) is replicated over ``salts`` buckets and LEFT-joined back on
       (hash, salt(doc_id, position)): the probe side spreads a viral
       segment's rows across ``salts`` partitions, the build side is the
       segment index (not the corpus) and carries no broadcast hint;
    4. groupBy(doc_id) rollup.

    One more exchange than the count-window shape (agg + salted join-back
    vs one window) — bought deliberately: the window's single hot partition
    is the thing that dies first on web boilerplate at 100 TB.

    Skew bound (ADVICE r4): salting spreads a viral segment over exactly
    ``salts`` join partitions — a ceiling of 1/salts of the hot key per
    task, NOT uniform; the default is 32 (≈3% ceiling) and the salt draws
    entropy from (doc_id, segment position) so repeated occurrences inside
    one document also spread. Residual hotspots beyond that rely on AQE
    skew-join splitting (on by Spark default); size ``salts`` ≈ target
    parallelism for the 100 TB shape.
    """
    d = documents.select("doc_id", words(F.col("text")).alias("__w"))
    w = F.col("__w")
    n_seg = F.floor(F.size(w) / F.lit(k)).cast("int")
    idx = F.when(n_seg >= 1, F.sequence(F.lit(0), n_seg - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    seg = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(w, i * k + j + 1) for j in range(k)])
    )
    segs = d.select("doc_id", F.posexplode(seg).alias("__pos", "segment")).select(
        "doc_id", "__pos", md5i(F.col("segment")).alias("__h")
    )
    dup_set = (
        segs.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select("__h", F.explode(F.sequence(F.lit(0), F.lit(int(salts) - 1))).alias("__salt"))
        .withColumn("__dup", F.lit(1))
    )
    probe = segs.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("doc_id"), F.col("__pos")), F.lit(int(salts))).cast("int"),
    )
    flagged = probe.join(dup_set, ["__h", "__salt"], "left").select(
        "doc_id", F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("is_dup").alias("n_dup_segments"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_dup_segments",
            F.round(
                F.col("n_dup_segments").cast("double") / F.col("n_segments").cast("double"), 6
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


def _cc_unionfind_local(pairs: DataFrame) -> DataFrame:
    """Driver-side union-find for a SMALL collected pair list (the local
    branch of connected_components). Output contract identical to the
    distributed loop: every edge endpoint labelled with its component's
    min doc_id, plus the component size."""
    a_name, b_name = pairs.columns[0], pairs.columns[1]
    edges = [(r[a_name], r[b_name]) for r in pairs.collect()]
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    rows = []
    for members in comp.values():
        label = min(members)
        for m in members:
            rows.append((m, label, len(members)))
    # schema follows the PAIR key type (the distributed path is key-type
    # generic; the local branch must be too — same input, same outcome
    # whichever side of the threshold the runtime count lands on)
    from pyspark.sql.types import LongType, StructField, StructType

    key_type = pairs.schema[0].dataType
    schema = StructType(
        [
            StructField("doc_id", key_type),
            StructField("cluster_id", key_type),
            StructField("cluster_size", LongType()),
        ]
    )
    return pairs.sparkSession.createDataFrame(rows, schema).orderBy("doc_id")


def simhash32(documents: DataFrame) -> DataFrame:
    """32-bit SimHash per document from word-token md5i hashes.

    For each bit position, sum +1/-1 over tokens by bit value; fingerprint
    bit = sign of the sum (ties → 0). All built-ins (explode + conditional
    agg); the per-bit sums combine map-side.
    """
    toks = documents.select(
        "doc_id", F.explode(words(F.col("text"))).alias("tok")
    )
    toks = toks.withColumn("h", md5i(F.col("tok")) % F.lit(1 << 32))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(32)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(32):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long")
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.alias("simhash")).orderBy("doc_id")


def duplicated_span_stats(index: DedupIndex) -> DataFrame:
    """Per-document cross-corpus duplicated-span fraction: for each doc,
    the share of its distinct word ``index.n``-grams that also occur in at
    least one OTHER document — the per-document signal behind exact-substring
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"), at word-n-gram granularity. Docs with
    a high ``dup_fraction`` are boilerplate/mirror candidates even when no
    single whole-doc duplicate exists.

    Plan (all uniform 8-byte keys, no windows, no broadcasts):
      1. distinct (doc_id, ngram-key) index via ``word_shingle_keys`` —
         md5i 56-bit keys hashed inside the array transform,
         array_distinct BEFORE the explode (zero exchanges to build);
      2. doc-frequency per key: groupBy(shingle) count — map-side combine,
         and because the index is distinct-per-doc the count IS the number
         of distinct docs containing the n-gram;
      3. join the index back on the key (both sides emerge partitioned on
         ``shingle``, Catalyst reuses the exchange) and aggregate per doc.
    A doc repeating its own phrase does NOT count as duplicated (the
    distinct index collapses within-doc repeats); df >= 2 means >= 2
    distinct documents share the span. At 100 TB every stage map-side
    combines or joins on uniform hashed keys; a viral boilerplate n-gram
    lands in one groupBy key (bounded output: one row) and its join
    fan-back is row-per-(doc, key), AQE-splittable.

    Cross-engine determinism: counts are BIGINT; the single ratio is
    int/int rounded once (round-half-up identical on both engines for
    positive exact doubles at 6 dp).

    The keys are not pinned through the owner: q60 alone reads its 5-gram
    index, and the cache build cost more than the second scan it saves
    (+0.45 s median, 10 interleaved pairs, sf0.1, 4 cores). Under an owner
    that already pinned these keys, Spark substitutes the cached table.
    """
    idx = word_shingle_keys(index.documents, index.n)
    df = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    per = (
        idx.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).alias("dup_ngrams"),
        )
    )
    # left join back so short docs (< n words, no shingles) keep a 0/0 row
    return (
        index.documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("total_ngrams"), F.lit(0).cast("long")).alias("total_ngrams"),
            F.coalesce(F.col("dup_ngrams"), F.lit(0).cast("long")).alias("dup_ngrams"),
            F.when(
                F.coalesce(F.col("total_ngrams"), F.lit(0)) > 0,
                F.round(
                    F.col("dup_ngrams").cast("double") / F.col("total_ngrams").cast("double"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


def source_ngram_overlap(index: DedupIndex) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every source pair (a < b),
    the number of distinct word n-gram shingle keys both sources contain,
    each side's distinct-shingle count, and the containment per-mille
    floor(1000 * shared / min(n_a, n_b)) — the corpus-mixing diagnostic
    that tells you which web sources are re-crawls / mirrors of each other
    before you weight them in a training mixture.

    Plan: tag the owner's md5i shingle-key index (``index.keys``) with its
    source through a doc_id-keyed join, take the distinct (source, shingle)
    pairs, and self-join on the 8-byte shingle key with ``a.source <= b.source`` — both sides are distinct, so the
    per-shingle join fanout is bounded by |sources|^2 regardless of how
    many DOCUMENTS share a viral shingle (the same bound that makes the
    q12/q13 index safe). The diagonal rows of the same aggregate ARE the
    per-source distinct-shingle sizes, so no second counting pass; the
    bounded (<= |sources|^2 rows) pair-count table is pinned with an eager
    localCheckpoint and joined back to its own diagonal as a LocalRelation.
    No broadcast hints anywhere: source cardinality is corpus-dependent
    (AQE broadcasts the genuinely tiny sides at runtime)."""
    tagged = (
        index.keys.join(index.documents.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    pc = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.source") <= F.col("b.source")))
        .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # bounded: <= |sources|^2 rows; one corpus pass
    )
    diag = pc.filter(F.col("sa") == F.col("sb")).select(F.col("sa").alias("s"), F.col("c").alias("nd"))
    da = diag.alias("da")
    db = diag.alias("db")
    return (
        pc.filter(F.col("sa") < F.col("sb"))
        .join(da, F.col("sa") == F.col("da.s"))
        .join(db, F.col("sb") == F.col("db.s"))
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("c").cast("long").alias("n_shared"),
            F.col("da.nd").cast("long").alias("n_a"),
            F.col("db.nd").cast("long").alias("n_b"),
            F.floor(
                F.col("c").cast("double") * 1000.0
                / F.least(F.col("da.nd"), F.col("db.nd")).cast("double")
            ).cast("long").alias("containment_pm"),
        )
        .orderBy("source_a", "source_b")
    )
