"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md §2 (or a
training-data-pipeline op the engine adds on top); ``oracle_sql()`` holds
the DuckDB-equivalent ANSI SQL. Float determinism strategy: money math in
DECIMAL (exact, order-independent partial aggregation) rounded once before
the final double cast; integer hashes via md5-prefix base-16 parse
(identical in both engines); cosine similarity folded left-to-right in
IEEE double in both engines, with only integer ids/ranks emitted.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from maxx_spark.session import load_tables
from maxx_spark.operators import relational as R
from maxx_spark.operators import windows as W
from maxx_spark.operators import dedup as D
from maxx_spark.operators import text as T
from maxx_spark.operators import similarity as S
from maxx_spark.operators import corpus as C
from maxx_spark.streaming.corpus import corpus_ingest_mirror

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) — mirror the Spark expressions 1:1
# ---------------------------------------------------------------------------

NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
FPNORM = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g'))"
MD5I = "('0x' || substr(md5({x}), 1, 14))::BIGINT"
P61 = (1 << 61) - 1


def _jaccard_cte(threshold: float, max_df: int = 64) -> str:
    """Shared shingle/Jaccard SQL (word 3-grams over normalized text,
    stop-shingles with doc-frequency > max_df removed — mirrors
    dedup._capped_shingles)."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, {MD5I.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {max_df}) keep USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_size
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_size,
       (sa.n_sh + sb.n_sh - inter_size) AS union_size
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_size * 1.0 / (sa.n_sh + sb.n_sh - inter_size) >= {threshold}
ORDER BY 1, 2
"""


def _minhash_lsh_sql(num_hashes: int = 32, bands: int = 8, threshold: float = 0.05, max_df: int = 64) -> str:
    r = num_hashes // bands
    params = D.minhash_params(num_hashes)
    mins = ",\n    ".join(
        f"min(({a} * xi + {b}) % {P61}) AS h{i}" for i, (a, b) in enumerate(params)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {bi} AS band_id, md5({cat}) AS band_hash FROM sig".format(
            bi=bi,
            cat=" || ',' || ".join(f"h{bi * r + j}::VARCHAR" for j in range(r)),
        )
        for bi in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, {MD5I.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)
), x AS (
  SELECT doc_id, shingle, (shingle % {1 << 31}) AS xi FROM sh
), sig AS (
  SELECT doc_id, {mins} FROM x GROUP BY doc_id
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT p.doc_id AS doc_a, q.doc_id AS doc_b
  FROM banded p JOIN banded q USING (band_id, band_hash)
  WHERE p.doc_id < q.doc_id
), shf AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}) keep USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
), inter AS (
  SELECT doc_a, doc_b, count(*) AS inter_size
  FROM cand
  JOIN shf a ON a.doc_id = doc_a
  JOIN shf b ON b.doc_id = doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_size,
       (sa.n_sh + sb.n_sh - inter_size) AS union_size
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_size * 1.0 / (sa.n_sh + sb.n_sh - inter_size) >= {threshold}
ORDER BY 1, 2
"""


def _probes_sql_list() -> str:
    from maxx_spark.operators.text import CONTAMINATION_PROBES

    return "[" + ", ".join(f"'{p}'" for p in CONTAMINATION_PROBES) + "]"


# Deterministic PII-bearing seed docs unioned into q57 on BOTH engines
# (ADVICE r4: the synthetic corpus is PII-free, so the oracle previously
# compared only zeros — these rows make the cross-engine check exercise
# the positive paths and the dialect edge cases: \b between word chars
# kills 987-65-4321x; 1234.5.6.7 forces the 4-octet backtrack to fail;
# a1234567890b matches \d{9,} with no boundary; non-overlapping
# left-to-right extract-all counts the 16-digit run once). Negative ids
# keep clear of every real doc_id. No apostrophes (SQL literal safety).
PII_SEED_DOCS: list[tuple[int, str]] = [
    (-4, "contact alice.smith+spam@example.co.uk or bob@sub.domain.org today"),
    (-3, "server at 10.0.0.1 and 192.168.300.12 but not 1234.5.6.7 ok"),
    (-2, "ssn 123-45-6789 and 987-65-4321x and 12-345-6789 end"),
    (-1, "card 4111111111111111 phone 123456789 mixed a1234567890b"),
]


def _pii_seed_values() -> str:
    return ", ".join(f"(CAST({i} AS BIGINT), '{t}')" for i, t in PII_SEED_DOCS)


def _q_pii_scan(s: SparkSession, d: str) -> DataFrame:
    from maxx_spark.operators import text as T

    docs = load_tables(s, d, ("documents",))["documents"].select("doc_id", "text")
    seeds = s.createDataFrame(PII_SEED_DOCS, "doc_id long, text string")
    return T.pii_scan(docs.unionByName(seeds))


def _dedup_clusters_sql() -> str:
    """q44: connected components over the q13 pair graph via a recursive
    reachability CTE — cluster id = min reachable doc id (DuckDB's
    WITH RECURSIVE is the single-node oracle for the distributed min-label
    propagation loop)."""
    body = _minhash_lsh_sql().strip()
    pairs_body, _ = body.rsplit("ORDER BY", 1)
    return f"""
WITH RECURSIVE pairsq AS (
{pairs_body}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairsq
  UNION
  SELECT doc_b, doc_a FROM pairsq
), reach(src, dst) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), lab AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), sz AS (
  SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id
)
SELECT doc_id, cluster_id, cluster_size
FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id
"""


_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (p, q) -> p + q)"
)


def _bucket_terms_sql() -> str:
    """Mirror similarity._bucket: bit b set iff dot(plane_b, embedding) > 0,
    with the identical plane literals (fixed seed) on both engines."""
    from maxx_spark.operators.similarity import PLANES

    return " + ".join(
        f"(CASE WHEN {_DOT_SQL.format(a=f'{plane!r}'.replace('(', '[').replace(')', ']'), b='embedding')} > 0 THEN {1 << b} ELSE 0 END)"
        for b, plane in enumerate(PLANES)
    )


def _cosine_lsh_sql(threshold: float = 0.4, bands: int = 2) -> str:
    """Mirror similarity.cosine_near_dup_lsh: banded hyperplane sketch
    (bands x 4-bit band values), candidates = collision in any band,
    exact left-fold cosine verify — identical plane literals + fold order."""
    from maxx_spark.operators.similarity import N_PLANES, PLANES

    r = N_PLANES // bands
    band_rows = []
    for k in range(bands):
        terms = " + ".join(
            f"(CASE WHEN {_DOT_SQL.format(a=f'{PLANES[k * r + j]!r}'.replace('(', '[').replace(')', ']'), b='embedding')} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        )
        band_rows.append(f"SELECT vec_id, {k} AS band_id, ({terms})::BIGINT AS band_val FROM embeddings")
    banded = "\n  UNION ALL\n  ".join(band_rows)
    return f"""
WITH banded AS (
  {banded}
), cand AS (
  SELECT DISTINCT p.vec_id AS vec_a, q.vec_id AS vec_b
  FROM banded p JOIN banded q USING (band_id, band_val)
  WHERE p.vec_id < q.vec_id
), n AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> x::DOUBLE / sqrt(list_reduce(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE), (p, q) -> p + q))
         ) AS ne
  FROM embeddings
)
SELECT vec_a, vec_b
FROM cand
JOIN n a ON a.vec_id = vec_a
JOIN n b ON b.vec_id = vec_b
WHERE list_reduce(list_transform(generate_series(1, 64), i -> a.ne[i] * b.ne[i]), (p, q) -> p + q) >= {threshold}
ORDER BY 1, 2
"""


def _ivf_sql(n_queries: int = 10, k: int = 5, nprobe: int = 2) -> str:
    """Mirror similarity.ivf_knn: per-label rounded centroids, probe the
    nprobe nearest centroids by exact cosine, exact search within probed
    lists — identical fold order and rounding on both engines."""
    dot = _DOT_SQL
    return f"""
WITH pos AS (
  SELECT label, unnest(generate_series(1, 64)) AS pos, embedding FROM embeddings
), comp AS (
  SELECT label, pos, round(sum(embedding[pos]::DOUBLE) / count(*), 4) AS m
  FROM pos GROUP BY label, pos
), cent AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM comp GROUP BY label
), q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {n_queries}
), qc AS (
  SELECT query_id, qe, label,
         {dot.format(a='qe', b='centroid')}
         / (sqrt({dot.format(a='qe', b='qe')}) * sqrt({dot.format(a='centroid', b='centroid')})) AS ccos
  FROM q CROSS JOIN cent
), probes AS (
  SELECT query_id, qe, label FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, label) AS pr FROM qc
  ) WHERE pr <= {nprobe}
)
SELECT query_id, neighbor_id, rnk::INTEGER AS rnk FROM (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY ({dot.format(a='p.qe', b='c.embedding')}
                     / (sqrt({dot.format(a='p.qe', b='p.qe')}) * sqrt({dot.format(a='c.embedding', b='c.embedding')}))) DESC,
                    c.vec_id
         ) AS rnk
  FROM probes p JOIN embeddings c ON c.label = p.label AND c.vec_id != p.query_id
)
WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def _knn_sql(where_bucket: bool) -> str:
    dot = _DOT_SQL
    if where_bucket:
        bucket_cte = f", b AS (SELECT vec_id, ({_bucket_terms_sql()})::BIGINT AS bucket FROM embeddings)"
        join_bucket = "JOIN b bq ON bq.vec_id = q.vec_id JOIN b bc ON bc.vec_id = c.vec_id AND bc.bucket = bq.bucket"
    else:
        bucket_cte = ""
        join_bucket = ""
    return f"""
WITH n AS (
  SELECT vec_id, sqrt({dot.format(a='embedding', b='embedding')}) AS nrm FROM embeddings
){bucket_cte}
SELECT query_id, neighbor_id, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY ({dot.format(a='q.embedding', b='c.embedding')} / (nq.nrm * nc.nrm)) DESC, c.vec_id
         ) AS rnk
  FROM embeddings q
  JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id
  JOIN n nq ON nq.vec_id = q.vec_id
  JOIN n nc ON nc.vec_id = c.vec_id
  {join_bucket}
)
WHERE rnk <= 5
ORDER BY query_id, rnk
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the core engine end-to-end — Common-Crawl-style pages →
    vectorized MATLAB extraction → per-unit metadata rows, joined with the
    TPC-H-style pricing summary for the relational layer's smoke. Returns
    the extraction output (stable CODE_UNITS projection, rows > 0)."""
    from pyspark.sql import functions as F

    # relational smoke (cheap, also exercises the sf0.001 tables)
    t = load_tables(spark, "/root/testdata/sf0.001", ("lineitem",))
    R.pricing_summary(t["lineitem"]).count()

    units = _gen_units(spark)
    return units.select(
        "url", "unit_path", "kind", "name", "parent_path",
        F.col("lineno").cast("long").alias("lineno"),
        F.col("endlineno").cast("long").alias("endlineno"),
        "docstring",
    ).orderBy("url", "unit_path", "kind")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _t(spark, sf_dir, *names):
        return load_tables(spark, sf_dir, names)

    return {
        # relational / join / agg
        "q01_pricing_summary": lambda s, d: R.pricing_summary(_t(s, d, "lineitem")["lineitem"]),
        "q02_revenue_by_nation": lambda s, d: R.revenue_by_nation(**_t(s, d, "customer", "orders", "lineitem", "nation", "region")),
        "q03_top_parts_by_brand": lambda s, d: R.top_parts_by_brand(_t(s, d, "lineitem")["lineitem"], _t(s, d, "part")["part"]),
        "q04_order_priority": lambda s, d: R.order_priority_counts(_t(s, d, "orders")["orders"], _t(s, d, "lineitem")["lineitem"]),
        # E7 shadowing dedup
        "q05_latest_event_per_user": lambda s, d: R.latest_event_per_user(_t(s, d, "events")["events"]),
        # E2-E4, E8 window engine (batch mirrors of the streaming ops)
        "q06_tumbling_window": lambda s, d: W.tumbling_counts(_t(s, d, "events")["events"]),
        "q07_sliding_window": lambda s, d: W.sliding_counts(_t(s, d, "events")["events"]),
        "q08_session_window": lambda s, d: W.session_windows(_t(s, d, "events")["events"]),
        "q09_late_data_window": lambda s, d: W.late_data_windowed(_t(s, d, "events")["events"]),
        "q10_salted_agg": lambda s, d: W.salted_agg(_t(s, d, "events")["events"]),
        # dedup suite
        "q11_exact_dedup": lambda s, d: D.exact_dedup(_t(s, d, "documents")["documents"]),
        "q12_ngram_jaccard": lambda s, d: D.ngram_jaccard_pairs(dedup_index(s, d)),
        "q13_minhash_lsh": lambda s, d: D.minhash_lsh_pairs(dedup_index(s, d)),
        "q14_simhash": lambda s, d: D.simhash32(_t(s, d, "documents")["documents"]),
        # text analysis suite
        "q15_lang_id": lambda s, d: T.lang_id(_t(s, d, "documents")["documents"]),
        "q16_quality_score": lambda s, d: T.quality_score(_t(s, d, "documents")["documents"]),
        "q17_token_counts": lambda s, d: T.token_counts(_t(s, d, "documents")["documents"]),
        "q18_fingerprint": lambda s, d: T.fingerprint(_t(s, d, "documents")["documents"]),
        "q19_rolling_fingerprint": lambda s, d: T.rolling_fingerprint(_t(s, d, "documents")["documents"]),
        "q39_repetition_rules": lambda s, d: T.repetition_rules(_t(s, d, "documents")["documents"]),
        "q41_corpus_filter": lambda s, d: T.corpus_filter(_t(s, d, "documents")["documents"]),
        # round-3 corpus ops: keyword extraction, dedup clustering,
        # per-source health, contamination scan
        "q42_top_terms": lambda s, d: T.top_terms(_t(s, d, "documents")["documents"]),
        "q43_source_quality": lambda s, d: T.source_quality(_t(s, d, "documents")["documents"]),
        "q44_dedup_clusters": lambda s, d: D.dedup_clusters(dedup_index(s, d)),
        "q45_contamination": lambda s, d: T.contamination_check(_t(s, d, "documents")["documents"]),
        "q55_vocab_build": lambda s, d: T.vocab_build(_t(s, d, "documents")["documents"]),
        # dataset assembly: split / pack / mix / stratify
        "q46_hash_split": lambda s, d: C.hash_split(_t(s, d, "documents")["documents"]),
        "q47_sequence_packing": lambda s, d: C.sequence_packing(_t(s, d, "documents")["documents"]),
        "q48_mixture_weights": lambda s, d: C.mixture_weights(_t(s, d, "documents")["documents"]),
        "q49_quality_stratify": lambda s, d: C.quality_stratify(_t(s, d, "documents")["documents"]),
        "q50_segment_dedup": lambda s, d: D.segment_dedup(_t(s, d, "documents")["documents"]),
        "q51_mixture_sample": lambda s, d: C.mixture_sample(_t(s, d, "documents")["documents"]),
        "q52_shard_assignment": lambda s, d: C.shard_assignment(_t(s, d, "documents")["documents"]),
        "q54_corpus_ingest": lambda s, d: corpus_ingest_mirror(_t(s, d, "documents")["documents"]),
        # round-4 pipeline ops: per-doc benchmark decontamination, PII
        # audit scan, lexical-diversity quality signals, and the composed
        # end-to-end assembly chain (gate -> dedup -> split -> pack)
        "q59_training_pipeline": lambda s, d: C.training_pipeline(_t(s, d, "documents")["documents"]),
        "q56_decontamination_overlap": lambda s, d: T.decontamination_overlap(_t(s, d, "documents")["documents"]),
        "q57_pii_scan": _q_pii_scan,
        "q58_lexical_diversity": lambda s, d: T.lexical_diversity(_t(s, d, "documents")["documents"]),
        "q60_dup_span_fraction": lambda s, d: D.duplicated_span_stats(dedup_index(s, d, n=5)),
        "q61_quality_classifier": lambda s, d: T.quality_classifier(_t(s, d, "documents")["documents"]),
        "q62_token_histogram": lambda s, d: T.token_histogram(_t(s, d, "documents")["documents"]),
        "q63_source_overlap": lambda s, d: D.source_ngram_overlap(dedup_index(s, d)),
        "q64_funnel_steps": lambda s, d: W.event_funnel(_t(s, d, "events")["events"]),
        "q66_session_paths": lambda s, d: W.session_event_paths(_t(s, d, "events")["events"]),
        "q67_length_percentiles": lambda s, d: T.length_percentiles(_t(s, d, "documents")["documents"]),
        # similarity search
        "q20_knn_bruteforce": lambda s, d: S.knn_cosine_bruteforce(_t(s, d, "embeddings")["embeddings"]),
        "q21_knn_lsh": lambda s, d: S.knn_cosine_lsh(_t(s, d, "embeddings")["embeddings"]),
        "q22_label_centroids": lambda s, d: S.label_centroids(_t(s, d, "embeddings")["embeddings"]),
        "q38_ivf_knn": lambda s, d: S.ivf_knn(_t(s, d, "embeddings")["embeddings"]),
        "q65_knn_quantized": lambda s, d: S.knn_cosine_quantized(_t(s, d, "embeddings")["embeddings"]),
        # MATLAB extraction payload + inheritance layer over the deterministic
        # generated pages corpus (sf-independent); oracles are golden VALUES
        # tables regenerated by tools/regen_golden.py
        "q23_extract_units": lambda s, d: _q_extract_units(s),
        "q24_class_mro": lambda s, d: _q_class_mro(s),
        "q25_inherited_members": lambda s, d: _q_inherited(s),
        "q26_shadowing_dedup": lambda s, d: _q_shadowing(s),
        # temporal joins + CEP
        "q27_asof_join": lambda s, d: _q_asof(s, d),
        "q28_range_join_bands": lambda s, d: _q_bands(s, d),
        "q29_funnel_counts": lambda s, d: _q_funnel(s, d),
        "q53_cohort_retention": lambda s, d: W.cohort_retention(_t(s, d, "events")["events"]),
        # embedding near-dup: exact blocked-GEMM + high-threshold LSH path
        "q30_cosine_near_dup": lambda s, d: S.cosine_near_dup_pairs(_t(s, d, "embeddings")["embeddings"]),
        "q36_cosine_near_dup_lsh": lambda s, d: S.cosine_near_dup_lsh(_t(s, d, "embeddings")["embeddings"]),
        # multimodal plumbing + search-path registry (golden oracles)
        "q31_media_decode": lambda s, d: _q_media_decode(s),
        "q32_frame_sample": lambda s, d: _q_frame_sample(s),
        "q33_searchpath": lambda s, d: _q_searchpath(s),
        # glob membership, scope-chain resolution, builtin doc links
        # (P1 / P24 / P32; golden oracles)
        "q34_glob_membership": lambda s, d: _q_glob(s),
        "q35_scope_resolution": lambda s, d: _q_resolve_scope(s),
        "q37_builtin_doc_links": lambda s, d: _q_builtin_links(s),
        "q40_point_lookup": lambda s, d: _q_point_lookup(s),
    }


def _q_asof(s: SparkSession, d: str) -> DataFrame:
    from pyspark.sql import functions as F

    from maxx_spark.operators.joins import asof_join, dedup_per_ts

    events = load_tables(s, d, ("events",))["events"]
    clicks = dedup_per_ts(
        events.where(F.col("event_type") == "click"), "user_id", "ts", "event_id"
    ).select("user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id"))
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    j = asof_join(purchases, clicks, "user_id", "ts", "c_ts", ["c_id"])
    return j.select(
        "user_id", "purchase_id", F.col("r_c_id").alias("click_id")
    ).orderBy("user_id", "purchase_id")


def _q_bands(s: SparkSession, d: str) -> DataFrame:
    from maxx_spark.operators.joins import value_band_counts

    return value_band_counts(load_tables(s, d, ("events",))["events"])


def _q_funnel(s: SparkSession, d: str) -> DataFrame:
    from maxx_spark.operators.joins import funnel_counts

    return funnel_counts(load_tables(s, d, ("events",))["events"])


def _q_media_decode(s: SparkSession) -> DataFrame:
    from maxx_spark.operators.multimodal import decode_media, generate_media_df

    return decode_media(generate_media_df(s, 120)).select(
        "media_id", "kind", "width", "height", "sample_rate", "n_frames", "body_bytes"
    ).orderBy("media_id")


def _q_frame_sample(s: SparkSession) -> DataFrame:
    from maxx_spark.operators.multimodal import frame_sample, generate_media_df

    return frame_sample(generate_media_df(s, 120)).orderBy("media_id", "frame_idx")


def _q_searchpath(s: SparkSession) -> DataFrame:
    from maxx_spark.operators.searchpath import SearchPath

    # subdir registered FIRST → it shadows the toolbox copy (the inverse of
    # q26's depth-rank winner), proving addpath-order precedence
    sp = SearchPath([
        "https://mega-mat.example.com/matlab/toolbox/subdir",
        "https://mega-mat.example.com/matlab/toolbox",
        "https://proj1.example.org/matlab/toolbox/subdir",
        "https://proj1.example.org/matlab/toolbox",
    ])
    return sp.resolve(_gen_units(s)).select(
        "host", "unit_path", "kind", "url"
    ).orderBy("host", "unit_path", "kind", "url")


class _Artifacts:
    """Owner of the cached tables queries share within one session: a
    DedupIndex per n over ONE corpus (q12/q13/q44/q63 at n=3, q60 at n=5)
    and the golden extraction units (q23-q26, q33-q35, q37, q40 all derive
    from one generated corpus and several branch it internally — uncached,
    each branch re-runs the Python extraction stage). Each is built on
    first use. Asking for another session or sf_dir releases what is held
    first, so at most one corpus is pinned at a time."""

    def __init__(self):
        self.spark: SparkSession | None = None
        self.sf_dir: str | None = None
        self.indexes: dict[int, D.DedupIndex] = {}
        self.units: DataFrame | None = None

    def _session(self, s: SparkSession) -> None:
        if s is not self.spark:
            self.release()
            self.spark = s

    def dedup_index(self, s: SparkSession, sf_dir: str, n: int = 3) -> D.DedupIndex:
        """The session's DedupIndex over ``sf_dir``'s documents at ``n``."""
        self._session(s)
        if sf_dir != self.sf_dir:
            self._release_indexes()
            self.sf_dir = sf_dir
        if n not in self.indexes:
            docs = load_tables(s, sf_dir, ("documents",))["documents"]
            self.indexes[n] = D.DedupIndex(docs, n=n)
        return self.indexes[n]

    def gen_units(self, s: SparkSession) -> DataFrame:
        from maxx_spark.extract import extract_code_units
        from maxx_spark.gen import generate_pages_df

        self._session(s)
        if self.units is None:
            self.units = extract_code_units(generate_pages_df(s, n_projects=2, n_filler=50)).cache()
        return self.units

    def _release_indexes(self) -> None:
        for idx in self.indexes.values():
            idx.release()
        self.indexes.clear()

    def release(self) -> None:
        """Unpersist every table held; the next use rebuilds it. A stopped
        session's caches died with it, so those are only dropped."""
        if self.spark is not None and self.spark.sparkContext._jsc is not None:
            self._release_indexes()
            if self.units is not None:
                self.units.unpersist()
        self.__init__()


_ARTIFACTS = _Artifacts()
dedup_index = _ARTIFACTS.dedup_index
release = _ARTIFACTS.release
_gen_units = _ARTIFACTS.gen_units


def _q_point_lookup(s: SparkSession) -> DataFrame:
    """P23: dotted member walks and '/'-paths (file + folder forms) through
    the registered search path, tagged per lookup."""
    from functools import reduce

    from pyspark.sql import functions as F

    from maxx_spark.operators.searchpath import SearchPath

    units = _gen_units(s)
    frames = []
    for host in ("mega-mat.example.com", "proj1.example.org"):
        top = f"https://{host}/matlab/toolbox"
        sp = SearchPath([top, f"{top}/subdir"])
        lookups = [
            ("dotted_member", "Tracker.advance", None),
            ("dotted_deep", "metrics.inner.Gauge.bump", None),
            ("slash_file", "subdir/accumulate.m", top),
            ("slash_folder", "subdir/", top),
            ("dotted_missing", "no.such.path", None),
        ]
        for tag, ident, wd in lookups:
            r = sp.point_lookup(units, ident, working_directory=wd)
            frames.append(
                r.where(F.col("url").contains(host)).select(
                    F.lit(host).alias("host"),
                    F.lit(tag).alias("lookup"),
                    "unit_path",
                    "kind",
                    "url",
                )
            )
    return reduce(lambda a, b: a.unionByName(b), frames).orderBy(
        "host", "lookup", "unit_path", "kind", "url"
    )


def _q_glob(s: SparkSession) -> DataFrame:
    from maxx_spark.gen import generate_pages_df
    from maxx_spark.operators.codeunits import with_host
    from maxx_spark.operators.globber import glob_filter

    pages = generate_pages_df(s, n_projects=2, n_filler=50)
    inc = glob_filter(pages, "matlab/toolbox", recursive=True, parse_live_scripts=True)
    return with_host(inc).select("host", "url").orderBy("host", "url")


# (scope_path, name) request set for q35 — includes a name shadowed at two
# scopes (rescale_span), an own member, a root-folder hit, a builtin
# fallback, an unresolvable name, and an error case: resolving inside a
# METHOD scope (parent is a class, not a namespace) must stop after own
# members and report 'error' — never fall through to builtins — mirroring
# the reference's NameResolutionError (objects.py:497-522).
SCOPE_REQUESTS = [
    ("metrics.inner.Gauge", "rescale_span"),
    ("metrics.inner.Gauge", "bump"),
    ("metrics.Gauge", "rescale_span"),
    ("Tracker", "advance"),
    ("Tracker", "accumulate"),
    ("metrics.Gauge", "zeros"),
    ("Tracker", "no_such_name"),
    ("Tracker.advance", "zeros"),
]


def _q_resolve_scope(s: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F

    from maxx_spark.operators.codeunits import builtins_df, resolve_in_scope, with_host

    units = _gen_units(s)
    hosts = with_host(units).select("host").distinct()
    reqs = s.createDataFrame(SCOPE_REQUESTS, "scope_path string, name string")
    requests = hosts.crossJoin(F.broadcast(reqs))
    return resolve_in_scope(units, requests, builtins_df(s)).select(
        "host",
        "scope_path",
        "name",
        "resolved_path",
        F.col("resolved_level").cast("long").alias("resolved_level"),
        "resolution",
    ).orderBy("host", "scope_path", "name")


def _q_builtin_links(s: SparkSession) -> DataFrame:
    from maxx_spark.operators.builtins import builtins_dim, link_builtin_exprs

    return link_builtin_exprs(_gen_units(s), builtins_dim(s)).orderBy(
        "host", "unit_path", "site", "expr", "builtin_name"
    )


def _q_extract_units(s: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F

    u = _gen_units(s)
    return u.select(
        "url",
        "unit_path",
        "kind",
        "name",
        F.col("lineno").cast("long").alias("lineno"),
        F.col("endlineno").cast("long").alias("endlineno"),
        F.md5(F.coalesce(F.col("docstring"), F.lit(""))).alias("doc_md5"),
        F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))).alias("text_md5"),
    ).orderBy("url", "unit_path", "kind", "name")


def _q_class_mro(s: SparkSession) -> DataFrame:
    from pyspark.sql import functions as F

    from maxx_spark.operators.codeunits import class_mro

    return class_mro(_gen_units(s)).select(
        "host", "cls", F.col("mro_pos").cast("long").alias("mro_pos"), "ancestor"
    ).orderBy("host", "cls", "mro_pos")


def _q_inherited(s: SparkSession) -> DataFrame:
    from maxx_spark.operators.codeunits import inherited_members

    return inherited_members(_gen_units(s)).select(
        "host", "cls", "member_name", "member_kind", "defined_in", "inherited"
    ).orderBy("host", "cls", "member_name")


def _q_shadowing(s: SparkSession) -> DataFrame:
    from maxx_spark.operators.codeunits import shadowing_dedup

    return shadowing_dedup(_gen_units(s)).select(
        "host", "unit_path", "kind", "url"
    ).orderBy("host", "unit_path", "kind", "url")


def oracle_sql() -> dict[str, str]:
    en = "('the','a','of','and','to','in','is')"
    langs = {
        "de": "('der','die','das','und','ist','nicht')",
        "en": en,
        "es": "('el','la','los','y','es','una')",
        "fr": "('le','la','les','et','est','une')",
    }
    ratio_cols = ",\n    ".join(
        f"len(list_filter(w, x -> x IN {words}))::DOUBLE / greatest(len(w), 1) AS r_{lang}"
        for lang, words in langs.items()
    )
    best = "greatest(r_de, r_en, r_es, r_fr)"
    pred_cases = "\n    ".join(
        f"WHEN r_{lang} >= 0.02 AND r_{lang} = {best} THEN '{lang}'" for lang in sorted(langs)
    )
    simhash_bits = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(32)
    )
    simhash_val = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))

    return {
        "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity::DECIMAL(18,4)), 2)::DOUBLE AS sum_qty,
  round(sum(l_extendedprice::DECIMAL(18,4)), 2)::DOUBLE AS sum_base_price,
  round(sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))), 2)::DOUBLE AS sum_disc_price,
  round(sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)) * (1::DECIMAL(18,4) + l_tax::DECIMAL(18,4))), 2)::DOUBLE AS sum_charge,
  round(sum(l_quantity::DECIMAL(18,4))::DOUBLE / count(*), 6) AS avg_qty,
  round(sum(l_extendedprice::DECIMAL(18,4))::DOUBLE / count(*), 6) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q02_revenue_by_nation": """
SELECT n_name, r_name,
  round(sum(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))), 2)::DOUBLE AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2 ORDER BY 1
""",
        "q03_top_parts_by_brand": """
SELECT p_brand, p_partkey, p_name, total_qty, rnk::INTEGER AS rnk FROM (
  SELECT p_brand, p_partkey, p_name, total_qty,
         row_number() OVER (PARTITION BY p_brand ORDER BY total_qty DESC, p_partkey) AS rnk
  FROM (
    SELECT p_brand, p_partkey, p_name,
           round(sum(l_quantity::DECIMAL(18,4)), 2)::DOUBLE AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2, 3
  )
) WHERE rnk <= 3 ORDER BY p_brand, rnk
""",
        "q04_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
GROUP BY 1 ORDER BY 1
""",
        "q05_latest_event_per_user": """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id
""",
        "q06_tumbling_window": """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,4)), 2)::DOUBLE AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q07_sliding_window": """
SELECT window_start, count(*) AS n_events,
       round(sum(value::DECIMAL(18,4)), 2)::DOUBLE AS sum_value
FROM (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - INTERVAL (k * 15) MINUTE AS window_start, value
  FROM events, generate_series(0, 3) AS s(k)
)
GROUP BY 1 ORDER BY 1
""",
        "q08_session_window": """
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value::DECIMAL(18,4)), 2)::DOUBLE AS sum_value
FROM sess GROUP BY user_id, sess_id ORDER BY user_id, session_start
""",
        "q09_late_data_window": """
WITH arr AS (
  SELECT *, max(ts) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            - INTERVAL 10 MINUTE AS wm
  FROM events
), kept AS (
  SELECT * FROM arr WHERE wm IS NULL OR ts >= wm
)
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, count(*) AS n_events
FROM kept GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q10_salted_agg": """
SELECT event_type, count(*) AS n_events,
       round(sum(value::DECIMAL(18,4)), 2)::DOUBLE AS sum_value
FROM events GROUP BY 1 ORDER BY 1
""",
        "q11_exact_dedup": f"""
SELECT md5({NORM}) AS text_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_dupes
FROM documents GROUP BY 1 ORDER BY 2
""",
        "q12_ngram_jaccard": _jaccard_cte(0.05),
        "q13_minhash_lsh": _minhash_lsh_sql(),
        "q14_simhash": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id, ({MD5I.format(x='tok')} % {1 << 32}) AS h FROM toks
), bits AS (
  SELECT doc_id, {simhash_bits}
  FROM h GROUP BY doc_id
)
SELECT doc_id, ({simhash_val})::BIGINT AS simhash FROM bits ORDER BY doc_id
""",
        "q15_lang_id": f"""
WITH t AS (
  SELECT doc_id, lang, string_split({NORM}, ' ') AS w FROM documents
), r AS (
  SELECT doc_id, lang,
    {ratio_cols}
  FROM t
)
SELECT doc_id, lang AS declared_lang,
  CASE
    {pred_cases}
    ELSE 'und'
  END AS pred_lang,
  round({best}, 6) AS best_ratio
FROM r ORDER BY doc_id
""",
        "q16_quality_score": f"""
WITH t AS (
  SELECT doc_id, text, string_split({NORM}, ' ') AS w,
    length(text) AS n_char,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, len(w) AS n_tok, n_char,
    CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END AS mean_wl,
    CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN {en}))::DOUBLE / len(w) ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_char > 0 THEN n_punct::DOUBLE / n_char ELSE 0.0 END AS punct_ratio
  FROM t
)
SELECT doc_id,
  n_tok::INTEGER AS n_tokens,
  n_char::BIGINT AS n_chars_obs,
  round(mean_wl, 6) AS mean_word_len,
  round(stop_ratio, 6) AS stopword_ratio,
  round(punct_ratio, 6) AS punct_ratio,
  ((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1 ELSE 0 END)
   + (CASE WHEN mean_wl >= 2.0 AND mean_wl <= 12.0 THEN 1 ELSE 0 END)
   + (CASE WHEN stop_ratio >= 0.01 THEN 1 ELSE 0 END)
   + (CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END))::INTEGER AS quality
FROM m ORDER BY doc_id
""",
        "q17_token_counts": r"""
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\s+'))::INTEGER AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z0-9]+'))::INTEGER AS word_tokens
FROM documents ORDER BY doc_id
""",
        "q18_fingerprint": r"""
WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS fp_md5, length(norm)::BIGINT AS norm_len
FROM n ORDER BY doc_id
""",
        "q19_rolling_fingerprint": f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, {MD5I.format(x="array_to_string(w[i:i+7], ' ')")} AS h
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i FROM toks)
), ranked AS (
  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn FROM sh
)
SELECT doc_id, (rn - 1)::INTEGER AS sig_rank, h AS sig_hash
FROM ranked WHERE rn <= 4 ORDER BY doc_id, sig_rank
""",
        "q42_top_terms": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE length(term) >= 3 GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), ranked AS (
  SELECT doc_id, term, tf, df,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS rnk
  FROM tf JOIN dfq USING (term)
)
SELECT doc_id, rnk::INTEGER AS rnk, term, tf, df
FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk
""",
        "q43_source_quality": f"""
WITH t AS (
  SELECT source, text, string_split({NORM}, ' ') AS w,
    length(text) AS n_char,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT source,
    ((CASE WHEN len(w) >= 10 AND len(w) <= 100000 THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) >= 2.0
             AND (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) <= 12.0
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN {en}))::DOUBLE / len(w) ELSE 0.0 END) >= 0.01
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN n_char > 0 THEN n_punct::DOUBLE / n_char ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END)) AS q,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp,
    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS wt
  FROM t
)
SELECT source,
  count(*) AS n_docs,
  count(DISTINCT fp) AS n_distinct,
  round(sum(q)::DECIMAL(20,0) / count(*)::DECIMAL(20,0), 6)::DOUBLE AS mean_quality,
  sum(wt)::BIGINT AS total_word_tokens
FROM m GROUP BY source ORDER BY source
""",
        "q44_dedup_clusters": _dedup_clusters_sql(),
        "q45_contamination": f"""
WITH probes AS (
  SELECT unnest({_probes_sql_list()}) AS probe
), hits AS (
  SELECT probe, count(*) AS n_docs, min(doc_id) AS first_doc_id
  FROM documents d JOIN probes p ON contains({NORM}, p.probe)
  GROUP BY probe
)
SELECT p.probe, coalesce(h.n_docs, 0) AS n_docs, h.first_doc_id
FROM probes p LEFT JOIN hits h USING (probe) ORDER BY probe
""",
        # q46-q49 dataset assembly (operators/corpus.py)
        "q46_hash_split": f"""
WITH b AS (
  SELECT doc_id,
    {MD5I.format(x=FPNORM)} % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
FROM b ORDER BY doc_id
""",
        "q47_sequence_packing": """
WITH t AS (
  SELECT source, doc_id,
    len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tok
  FROM documents
), o AS (
  SELECT source, doc_id, n_tok,
    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_offset
  FROM t
)
SELECT source, doc_id, n_tok, tok_offset,
  CAST(floor(tok_offset / 256) AS BIGINT) AS seq_first,
  CASE WHEN n_tok > 0 THEN CAST(floor((tok_offset + n_tok - 1) / 256) AS BIGINT)
       ELSE CAST(floor(tok_offset / 256) AS BIGINT) END AS seq_last,
  (CASE WHEN n_tok > 0
        THEN CAST(floor((tok_offset + n_tok - 1) / 256) AS BIGINT)
             - CAST(floor(tok_offset / 256) AS BIGINT) + 1
        ELSE 0 END)::BIGINT AS n_seqs
FROM o ORDER BY source, doc_id
""",
        "q48_mixture_weights": """
WITH per AS (
  SELECT source, count(*) AS n_docs,
    sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), g AS (
  SELECT source, n_docs, n_tokens,
    sum(n_tokens) OVER ()::BIGINT AS total,
    count(*) OVER ()::BIGINT AS n_src
  FROM per
)
SELECT source, n_docs, n_tokens,
  round(n_tokens::DOUBLE / total::DOUBLE, 6) AS token_share,
  CASE WHEN n_tokens > 0 THEN round(total::DOUBLE / (n_src * n_tokens)::DOUBLE, 6)
       ELSE 0.0 END AS weight
FROM g ORDER BY source
""",
        "q49_quality_stratify": f"""
WITH t AS (
  SELECT lang, doc_id, string_split({NORM}, ' ') AS w,
    length(text) AS n_char,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
), q AS (
  SELECT lang, doc_id,
    ((CASE WHEN len(w) >= 10 AND len(w) <= 100000 THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) >= 2.0
             AND (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) <= 12.0
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN {en}))::DOUBLE / len(w) ELSE 0.0 END) >= 0.01
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN n_char > 0 THEN n_punct::DOUBLE / n_char ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END))::INTEGER AS quality
  FROM t
)
SELECT lang, doc_id, quality,
  ntile(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)::INTEGER AS bucket
FROM q ORDER BY lang, doc_id
""",
        # q50-q52 (operators/dedup.segment_dedup, corpus.mixture_sample/shard_assignment)
        "q50_segment_dedup": f"""
WITH w AS (
  SELECT doc_id, string_split({NORM}, ' ') AS wa FROM documents
), seg AS (
  SELECT doc_id, array_to_string(wa[(i*10+1):(i*10+10)], ' ') AS segment
  FROM (SELECT doc_id, wa, unnest(generate_series(0, (len(wa) // 10)::BIGINT - 1)) AS i FROM w)
), occ AS (
  -- dup flag over the 56-bit segment hash (the engine's exchange key) —
  -- identical flags mod md5 collisions, which both engines share
  SELECT doc_id, (CASE WHEN count(*) OVER (PARTITION BY {MD5I.format(x='segment')}) > 1 THEN 1 ELSE 0 END) AS is_dup
  FROM seg
)
SELECT doc_id, count(*)::BIGINT AS n_segments, sum(is_dup)::BIGINT AS n_dup_segments,
  round(sum(is_dup)::DOUBLE / count(*)::DOUBLE, 6) AS dup_fraction
FROM occ GROUP BY doc_id ORDER BY doc_id
""",
        "q51_mixture_sample": f"""
WITH per AS (
  SELECT source, sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), g AS (
  SELECT source,
    CASE WHEN n_tokens > 0
         THEN (sum(n_tokens) OVER ())::DOUBLE / ((count(*) OVER ()) * n_tokens)::DOUBLE
         ELSE 0.0 END AS w
  FROM per
)
SELECT d.doc_id, d.source,
  (CAST(floor(w) AS BIGINT)
   + CASE WHEN ({MD5I.format(x="d.doc_id::VARCHAR || ':epoch0'")} % 1000000)
               < CAST(round((w - floor(w)) * 1000000.0) AS BIGINT)
          THEN 1 ELSE 0 END)::BIGINT AS n_copies
FROM documents d JOIN g USING (source)
ORDER BY d.doc_id
""",
        "q52_shard_assignment": f"""
WITH per AS (
  SELECT ({MD5I.format(x=FPNORM)} % 16)::INTEGER AS shard,
    count(*) AS n_docs,
    sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS n_tokens
  FROM documents GROUP BY 1
)
SELECT shard, n_docs, n_tokens,
  round(n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE, 6) AS token_share
FROM per ORDER BY shard
""",
        "q20_knn_bruteforce": _knn_sql(False).replace("AS rnk", "AS rnk", 1).replace("SELECT query_id, neighbor_id, rnk FROM (", "SELECT query_id, neighbor_id, rnk::INTEGER AS rnk FROM ("),
        "q21_knn_lsh": _knn_sql(True).replace("SELECT query_id, neighbor_id, rnk FROM (", "SELECT query_id, neighbor_id, rnk::INTEGER AS rnk FROM ("),
        "q38_ivf_knn": _ivf_sql(),
        "q41_corpus_filter": f"""
WITH base AS (
  SELECT doc_id, text, lang AS declared_lang,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS lines,
         string_split({NORM}, ' ') AS w
  FROM documents
), rep AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_dlines,
         greatest(len(w) - 2, 0) AS n_g,
         CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(
             generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
           ELSE 0 END AS n_dg,
         length(regexp_replace(text, '[^#@{{}}\\[\\]<>]', '', 'g')) AS n_sym,
         greatest(length(text), 1) AS n_char,
         len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS n_bul
  FROM base
), keepf AS (
  SELECT doc_id,
         ((CASE WHEN n_lines > 0 THEN (n_lines - n_dlines)::DOUBLE / n_lines ELSE 0.0 END) <= 0.30
          AND (CASE WHEN n_g > 0 THEN (n_g - n_dg)::DOUBLE / n_g ELSE 0.0 END) <= 0.50
          AND (n_sym::DOUBLE / n_char) <= 0.10
          AND (CASE WHEN n_lines > 0 THEN n_bul::DOUBLE / n_lines ELSE 0.0 END) <= 0.90) AS keep
  FROM rep
), lng AS (
  SELECT doc_id, declared_lang, CASE {{pred_cases}} ELSE 'und' END AS pred_lang
  FROM (SELECT doc_id, declared_lang, {{ratio_cols}} FROM base)
), canon AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({NORM}) AS h FROM documents) GROUP BY h
)
SELECT l.doc_id, l.declared_lang, l.pred_lang
FROM lng l JOIN keepf k USING (doc_id) JOIN canon c USING (doc_id)
WHERE k.keep AND (l.pred_lang = l.declared_lang OR l.pred_lang = 'und')
ORDER BY doc_id
""".replace("{pred_cases}", f"{pred_cases}").replace("{ratio_cols}", ratio_cols),
        "q39_repetition_rules": f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), l -> trim(l) != '') AS lines,
         string_split({NORM}, ' ') AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_dlines,
         greatest(len(w) - 2, 0) AS n_g,
         CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(
             generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
           ELSE 0 END AS n_dg,
         length(regexp_replace(text, '[^#@{{}}\\[\\]<>]', '', 'g')) AS n_sym,
         greatest(length(text), 1) AS n_char,
         len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS n_bul
  FROM base
)
SELECT doc_id,
       round(CASE WHEN n_lines > 0 THEN (n_lines - n_dlines)::DOUBLE / n_lines ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN n_g > 0 THEN (n_g - n_dg)::DOUBLE / n_g ELSE 0.0 END, 6) AS dup_3gram_frac,
       round(n_sym::DOUBLE / n_char, 6) AS symbol_ratio,
       round(CASE WHEN n_lines > 0 THEN n_bul::DOUBLE / n_lines ELSE 0.0 END, 6) AS bullet_frac,
       ((CASE WHEN n_lines > 0 THEN (n_lines - n_dlines)::DOUBLE / n_lines ELSE 0.0 END) <= 0.30
        AND (CASE WHEN n_g > 0 THEN (n_g - n_dg)::DOUBLE / n_g ELSE 0.0 END) <= 0.50
        AND (n_sym::DOUBLE / n_char) <= 0.10
        AND (CASE WHEN n_lines > 0 THEN n_bul::DOUBLE / n_lines ELSE 0.0 END) <= 0.90) AS keep
FROM m
ORDER BY doc_id
""",
        "q22_label_centroids": """
WITH ex AS (
  SELECT label, (i - 1)::INTEGER AS pos, embedding[i]::DOUBLE AS v
  FROM embeddings, generate_series(1, 64) AS s(i)
)
SELECT label, pos, round(sum(v) / count(*), 4) AS mean_v, count(*) AS n_members
FROM ex GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q27_asof_join": """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY 1, 2
""",
        "q28_range_join_bands": """
WITH bands(band_id, lo, hi) AS (VALUES
  (0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 100.0),
  (4, 100.0, 125.0), (5, 125.0, 150.0), (6, 150.0, 175.0), (7, 175.0, 200.0))
SELECT band_id, lo, hi, count(*) AS n_events,
       round(sum(value::DECIMAL(18,4)), 2)::DOUBLE AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY 1, 2, 3 ORDER BY 1
""",
        "q29_funnel_counts": """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), joined AS MATERIALIZED (
  SELECT p.user_id, p.ts AS p_ts, c.ts AS c_ts
  FROM purchases p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT user_id, count(*) AS n_funnels
FROM (SELECT * FROM joined WHERE c_ts IS NOT NULL)
WHERE c_ts >= p_ts - INTERVAL 10 MINUTE
GROUP BY 1 ORDER BY 1
""",
        # q55 (operators/text.vocab_build)
        "q55_vocab_build": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term FROM documents
), per_doc AS (
  SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2
), stats AS (
  SELECT term, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df
  FROM per_doc GROUP BY term
)
SELECT (row_number() OVER (ORDER BY df DESC, tf DESC, term) - 1)::BIGINT AS vocab_id,
  term, tf, df
FROM stats WHERE df >= 2 ORDER BY vocab_id
""",
        # q56 (operators/text.decontamination_overlap): distinct 3-gram
        # shingles per doc (DuckDB slice is 1-based END-INCLUSIVE) LEFT
        # joined against the shared q45 probe dim
        "q56_decontamination_overlap": f"""
WITH w AS (
  SELECT doc_id, string_split({NORM}, ' ') AS wa FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(wa[(i+1):(i+3)], ' ') AS shingle
  FROM (SELECT doc_id, wa, unnest(generate_series(0, len(wa)::BIGINT - 3)) AS i FROM w)
), p AS (
  SELECT unnest({_probes_sql_list()}) AS probe
)
SELECT doc_id, count(*)::BIGINT AS n_shingles,
  count(p.probe)::BIGINT AS n_contaminated,
  round(count(p.probe)::DOUBLE / count(*)::DOUBLE, 6) AS overlap_fraction
FROM sh LEFT JOIN p ON sh.shingle = p.probe
GROUP BY doc_id ORDER BY doc_id
""",
        # q57 (operators/text.pii_scan): patterns restricted to the
        # Java-regex ∩ RE2 common dialect (\\d, \\b, literal classes);
        # PII_SEED_DOCS unioned on both engines so the cross-engine compare
        # pins NONZERO counts and the boundary/backtrack edge cases
        "q57_pii_scan": """
WITH pii_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES __PII_SEEDS__) AS v(doc_id, text)
)
SELECT doc_id,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::BIGINT AS n_ssn_like,
  len(regexp_extract_all(text, '\\d{9,}'))::BIGINT AS n_long_digit_runs,
  (CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
         OR len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0
         OR len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) > 0
         OR len(regexp_extract_all(text, '\\d{9,}')) > 0
   THEN 1 ELSE 0 END)::INTEGER AS needs_scrub
FROM pii_docs ORDER BY doc_id
""".replace("__PII_SEEDS__", _pii_seed_values()),
        # q58 (operators/text.lexical_diversity)
        "q58_lexical_diversity": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM documents
), per AS (
  SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2
)
SELECT doc_id,
  sum(c)::BIGINT AS n_tokens,
  count(*)::BIGINT AS n_types,
  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
  round(count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS ttr,
  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS hapax_frac
FROM per GROUP BY doc_id ORDER BY doc_id
""",
        # q60 (operators/dedup.duplicated_span_stats): per-doc fraction of
        # distinct word 5-grams shared with >=1 other document (the
        # exact-substring-dedup signal); keyspace mirrors word_shingle_keys
        # (md5i of the 5-word concat), DISTINCT-per-doc before the df count
        "q60_dup_span_fraction": f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    {MD5I.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")} AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i FROM toks)
), dfc AS (
  SELECT shingle, count(*) AS c FROM sh GROUP BY 1
), per AS (
  SELECT sh.doc_id, count(*)::BIGINT AS total_ngrams,
         sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_ngrams
  FROM sh JOIN dfc USING (shingle) GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(total_ngrams, 0)::BIGINT AS total_ngrams,
  COALESCE(dup_ngrams, 0)::BIGINT AS dup_ngrams,
  CASE WHEN COALESCE(total_ngrams, 0) > 0
       THEN round(dup_ngrams::DOUBLE / total_ngrams::DOUBLE, 6) ELSE 0.0 END AS dup_fraction
FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id
""",
        # q61 (operators/text.quality_classifier): integer-weighted linear
        # quality scorer — per-mille features via floor(1000*a/b) (exact
        # cross-engine, see operator docstring), BIGINT dot product
        "q61_quality_classifier": f"""
WITH t AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w,
    length(text)::BIGINT AS n_char,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::BIGINT AS n_punct
  FROM documents
), f AS (
  SELECT doc_id, n_char, n_alpha, n_punct,
    len(w)::BIGINT AS n_tok,
    len(list_filter(w, x -> x IN {en}))::BIGINT AS n_stop
  FROM t
), pm AS (
  SELECT doc_id,
    (CASE WHEN n_tok > 0 THEN floor(n_stop::DOUBLE * 1000.0 / n_tok::DOUBLE) ELSE 0 END)::BIGINT AS stop_pm,
    (CASE WHEN n_char > 0 THEN floor(n_alpha::DOUBLE * 1000.0 / n_char::DOUBLE) ELSE 0 END)::BIGINT AS alpha_pm,
    (CASE WHEN n_char > 0 THEN floor(n_punct::DOUBLE * 1000.0 / n_char::DOUBLE) ELSE 0 END)::BIGINT AS punct_pm,
    (CASE WHEN n_tok < 10 THEN 0 WHEN n_tok < 50 THEN 1 WHEN n_tok < 200 THEN 2 ELSE 3 END)::BIGINT AS len_bucket
  FROM f
)
SELECT doc_id, stop_pm, alpha_pm, punct_pm, len_bucket,
  (3 * stop_pm + 2 * alpha_pm - 4 * punct_pm + 120 * len_bucket)::BIGINT AS q_score,
  (CASE WHEN 3 * stop_pm + 2 * alpha_pm - 4 * punct_pm + 120 * len_bucket >= 2000
        THEN 1 ELSE 0 END)::INTEGER AS keep
FROM pm ORDER BY doc_id
""",
        # q62 (operators/text.token_histogram): per-source decimal-magnitude
        # histogram of the q17 word-token count — all-integer outputs
        "q62_token_histogram": r"""
WITH t AS (
  SELECT source, len(regexp_extract_all(lower(text), '[a-z0-9]+'))::INTEGER AS wt
  FROM documents
)
SELECT source, length(wt::VARCHAR)::INTEGER AS bucket,
  count(*)::BIGINT AS n_docs, sum(wt)::BIGINT AS sum_tokens,
  min(wt)::INTEGER AS min_tokens, max(wt)::INTEGER AS max_tokens
FROM t GROUP BY 1, 2 ORDER BY 1, 2
""",
        # q63 (operators/dedup.source_ngram_overlap): distinct-shingle
        # overlap per source pair; keyspace mirrors word_shingle_keys
        # (md5i of the 3-word concat); containment_pm = floor(1000*c/min)
        # (exact cross-engine: integer-ratio floor, see q61)
        "q63_source_overlap": f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, {MD5I.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS shingle
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks WHERE len(w) >= 3)
), ss AS (
  SELECT DISTINCT d.source, sh.shingle FROM sh JOIN documents d USING (doc_id)
), pc AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS c
  FROM ss a JOIN ss b USING (shingle) WHERE a.source <= b.source GROUP BY 1, 2
)
SELECT p.sa AS source_a, p.sb AS source_b, p.c::BIGINT AS n_shared,
  da.c::BIGINT AS n_a, db.c::BIGINT AS n_b,
  floor(p.c::DOUBLE * 1000.0 / least(da.c, db.c)::DOUBLE)::BIGINT AS containment_pm
FROM pc p
JOIN pc da ON da.sa = p.sa AND da.sb = p.sa
JOIN pc db ON db.sa = p.sb AND db.sb = p.sb
WHERE p.sa < p.sb
ORDER BY 1, 2
""",
        # q64 (operators/windows.event_funnel): chained strict-order funnel
        # view -> click -> purchase; first-touch step times, per-mille
        # conversion vs funnel entry
        "q64_funnel_steps": """
WITH t1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY 1
), t3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1
), s AS (
  SELECT 0 AS step_idx, 'view' AS step, (SELECT count(*) FROM t1) AS n_users
  UNION ALL
  SELECT 1, 'click', (SELECT count(*) FROM t2)
  UNION ALL
  SELECT 2, 'purchase', (SELECT count(*) FROM t3)
)
SELECT step_idx::INTEGER AS step_idx, step, n_users::BIGINT AS n_users,
  (CASE WHEN (SELECT count(*) FROM t1) > 0
        THEN floor(n_users::DOUBLE * 1000.0 / (SELECT count(*) FROM t1)::DOUBLE)
        ELSE 0 END)::BIGINT AS conv_pm
FROM s ORDER BY step_idx
""",
        # q65 (operators/similarity.knn_cosine_quantized): int8-style
        # symmetric quantization — q_i = floor(x*127/max|x|), every step a
        # single IEEE double op, so codes are bit-identical cross-engine;
        # the BIGINT dot is < 2^53 (exact in DuckDB's double sum) and the
        # dequantized-cosine score ((qdot*sa)*sb)/(na*nb) is a FIXED op
        # chain on identical operands — bit-identical ranks, floats never
        # emitted; norms reuse the q20 left-fold contract
        "q65_knn_quantized": f"""
WITH qz AS (
  SELECT vec_id,
    CASE WHEN s = 0 THEN list_transform(embedding, x -> 0::BIGINT)
         ELSE list_transform(embedding, x ->
              floor(CAST(x AS DOUBLE) * 127.0 / s)::BIGINT)
    END AS qv,
    s, sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
        FROM embeddings)
), s AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i]))::BIGINT AS qdot,
    a.s AS sa, b.s AS sb, a.nrm AS na, b.nrm AS nb
  FROM qz a JOIN qz b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
), sc AS (
  SELECT query_id, neighbor_id, qdot,
    CASE WHEN na * nb = 0 THEN -2.0
         ELSE ((qdot::DOUBLE * sa) * sb) / (na * nb) END AS score
  FROM s
)
SELECT query_id, neighbor_id, qdot, rnk::INTEGER AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM sc
) WHERE rnk <= 5
ORDER BY query_id, rnk
""",
        # q66 (operators/windows.session_event_paths): gap sessionization on
        # exact microsecond longs, path = first 8 event types in strict
        # (ts, event_id) order (DuckDB slice [1:8] is 1-based end-inclusive
        # = Spark slice(arr,1,8)); top-20 under the total order
        # (n_sessions DESC, path) is engine-independent
        "q66_session_paths": """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM s
), paths AS (
  SELECT user_id,
    array_to_string((array_agg(event_type ORDER BY ts, event_id))[1:8], '>') AS path
  FROM sess GROUP BY user_id, sid
)
SELECT path, count(*)::BIGINT AS n_sessions, count(DISTINCT user_id)::BIGINT AS n_users
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
        # q67 (operators/text.length_percentiles): exact percentile_disc via
        # the two-phase bounded histogram; integer-ceil rank, no float rank
        "q67_length_percentiles": """
WITH hist AS (
  SELECT source, n_chars, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2
), cum AS (
  SELECT source, n_chars, c,
    (sum(c) OVER (PARTITION BY source ORDER BY n_chars))::BIGINT AS cum
  FROM hist
), tot AS (
  SELECT source, sum(c)::BIGINT AS n FROM hist GROUP BY 1
)
SELECT h.source, max(t.n)::BIGINT AS n_docs,
  min(CASE WHEN h.cum >= (500 * t.n + 999) // 1000 THEN h.n_chars END)::BIGINT AS p50,
  min(CASE WHEN h.cum >= (900 * t.n + 999) // 1000 THEN h.n_chars END)::BIGINT AS p90,
  min(CASE WHEN h.cum >= (990 * t.n + 999) // 1000 THEN h.n_chars END)::BIGINT AS p99
FROM cum h JOIN tot t USING (source)
GROUP BY h.source ORDER BY h.source
""",
        # q59 (operators/corpus.training_pipeline): the COMPOSED chain —
        # quality gate -> exact dedup (canonical = min doc_id among GATED
        # docs) -> train-split filter -> q47 packing over survivors; stage
        # order is load-bearing and mirrored exactly
        "q59_training_pipeline": f"""
WITH t AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w,
    length(text) AS n_char,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
), q AS (
  SELECT doc_id,
    ((CASE WHEN len(w) >= 10 AND len(w) <= 100000 THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) >= 2.0
             AND (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) <= 12.0
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN {en}))::DOUBLE / len(w) ELSE 0.0 END) >= 0.01
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN n_char > 0 THEN n_punct::DOUBLE / n_char ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END))::INTEGER AS quality
  FROM t
), gated AS (
  SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 3
), canon AS (
  SELECT *, min(doc_id) OVER (PARTITION BY md5({NORM})) AS cmin FROM gated
), surv AS (
  SELECT * FROM canon WHERE doc_id = cmin
), train AS (
  SELECT * FROM surv WHERE ({MD5I.format(x=FPNORM)} % 100) < 90
), tok AS (
  SELECT source, doc_id,
    len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tok
  FROM train
), o AS (
  SELECT source, doc_id, n_tok,
    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_offset
  FROM tok
)
SELECT source, doc_id, n_tok, tok_offset,
  CAST(floor(tok_offset / 256) AS BIGINT) AS seq_first,
  CASE WHEN n_tok > 0 THEN CAST(floor((tok_offset + n_tok - 1) / 256) AS BIGINT)
       ELSE CAST(floor(tok_offset / 256) AS BIGINT) END AS seq_last,
  (CASE WHEN n_tok > 0
        THEN CAST(floor((tok_offset + n_tok - 1) / 256) AS BIGINT)
             - CAST(floor(tok_offset / 256) AS BIGINT) + 1
        ELSE 0 END)::BIGINT AS n_seqs
FROM o ORDER BY source, doc_id
""",
        # q54 (streaming/corpus.corpus_ingest_mirror — deterministic batch
        # mirror of the streaming ingest contract: quality gate >= 3,
        # canonical-min-doc_id dedup, content-hash bucket/split)
        "q54_corpus_ingest": f"""
WITH t AS (
  SELECT doc_id, text, lang, source, string_split({NORM}, ' ') AS w,
    length(text) AS n_char,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
), q AS (
  SELECT doc_id, text, lang, source,
    ((CASE WHEN len(w) >= 10 AND len(w) <= 100000 THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) >= 2.0
             AND (CASE WHEN len(w) > 0 THEN n_alpha::DOUBLE / len(w) ELSE 0.0 END) <= 12.0
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN {en}))::DOUBLE / len(w) ELSE 0.0 END) >= 0.01
             THEN 1 ELSE 0 END)
     + (CASE WHEN (CASE WHEN n_char > 0 THEN n_punct::DOUBLE / n_char ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END)) AS quality
  FROM t
), f AS (
  SELECT doc_id, text, lang, source, md5({NORM}) AS text_hash
  FROM q WHERE quality >= 3
), c AS (
  SELECT doc_id, text, lang, source, text_hash,
    row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
  FROM f
)
SELECT doc_id, text_hash, lang, source,
  {MD5I.format(x=FPNORM)} % 100 AS bucket,
  CASE WHEN {MD5I.format(x=FPNORM)} % 100 < 90 THEN 'train'
       WHEN {MD5I.format(x=FPNORM)} % 100 < 95 THEN 'val'
       ELSE 'test' END AS split
FROM c WHERE rn = 1 ORDER BY doc_id
""",
        # q53 (operators/windows.cohort_retention)
        "q53_cohort_retention": """
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT f.cohort_week, a.active_week, count(*)::BIGINT AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "q30_cosine_near_dup": """
WITH n AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> x::DOUBLE / sqrt(list_reduce(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE), (p, q) -> p + q))
         ) AS ne
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_reduce(list_transform(generate_series(1, 64), i -> a.ne[i] * b.ne[i]), (p, q) -> p + q) >= 0.5
ORDER BY 1, 2
""",
        "q36_cosine_near_dup_lsh": _cosine_lsh_sql(),
        **_golden_oracles(),
    }


def _golden_oracles() -> dict[str, str]:
    """VALUES-table oracles for the non-SQL-expressible operators (golden
    outputs over the deterministic corpus; see tools/regen_golden.py).
    Falls back to rows-only checks when golden.py hasn't been generated."""
    try:
        from maxx_spark import golden
    except ImportError:
        return {}
    out = {
        "q23_extract_units": golden.Q23_EXTRACT_UNITS_SQL,
        "q24_class_mro": golden.Q24_CLASS_MRO_SQL,
        "q25_inherited_members": golden.Q25_INHERITED_MEMBERS_SQL,
        "q26_shadowing_dedup": golden.Q26_SHADOWING_DEDUP_SQL,
    }
    for name, attr in (
        ("q31_media_decode", "Q31_MEDIA_DECODE_SQL"),
        ("q32_frame_sample", "Q32_FRAME_SAMPLE_SQL"),
        ("q33_searchpath", "Q33_SEARCHPATH_SQL"),
        ("q34_glob_membership", "Q34_GLOB_MEMBERSHIP_SQL"),
        ("q35_scope_resolution", "Q35_SCOPE_RESOLUTION_SQL"),
        ("q37_builtin_doc_links", "Q37_BUILTIN_DOC_LINKS_SQL"),
        ("q40_point_lookup", "Q40_POINT_LOOKUP_SQL"),
    ):
        if hasattr(golden, attr):
            out[name] = getattr(golden, attr)
    return out
