"""Training-data pipeline operators as driver-checkable queries.

Dedup / similarity-search / text-analysis / multimodal ops over the
``documents`` and ``embeddings`` tables (round brief: first-class alongside
SURVEY.md §2). Oracle-less entries (minhash/simhash/LSH — xxhash64 has no
DuckDB twin) get rows-only driver checks plus pinned unit tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from raqc_spark.functions.dedup import (
    doc_shingles,
    doc_tokens,
    exact_dedup_stats,
    lsh_candidate_pairs,
    minhash_jaccard_estimate,
    minhash_signatures,
    simhash,
    simhash_near_dup_pairs,
    unigram_jaccard_pairs,
)
from raqc_spark.functions.multimodal import documents_as_media, extract_features
from raqc_spark.functions.simsearch import (
    _cosine,
    _norm,
    cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from raqc_spark.functions.text import (
    BPE_TOKEN_RE,
    bpe_token_count_col,
    fingerprint_col,
    lang_id_col,
    lang_id_sql,
    quality_cols,
    token_count_col,
)
from raqc_spark.sources.testdata import load_table


# ------------------------------------------------------------------- dedup


def q_dedup_exact(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_stats(d)


SQL_DEDUP_EXACT = """
SELECT count(*) AS n_rows,
       count(DISTINCT sha256(text)) AS n_distinct,
       count(*) - count(DISTINCT sha256(text)) AS n_dup_rows
FROM documents
"""


def q_dedup_jaccard(spark, sf_dir):
    """Exact unigram Jaccard pairs on a deterministic subsample (the full
    quadratic join is gated behind LSH candidates at scale)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    tok = doc_tokens(d, "doc_id")
    return unigram_jaccard_pairs(tok, min_jaccard=0.12)


SQL_DEDUP_JACCARD = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
tok AS (
  SELECT DISTINCT doc_id AS doc, t.token
  FROM docs, unnest(string_split(lower(text), ' ')) AS t(token)
  WHERE length(t.token) > 0),
sizes AS (SELECT doc, count(*) AS sz FROM tok GROUP BY doc),
common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc < b.doc
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = common.doc_a
JOIN sizes sb ON sb.doc = common.doc_b
WHERE round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) >= 0.12
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates over 3-word shingles, with estimated
    Jaccard (rows-only: xxhash64-based signatures have no DuckDB twin)."""
    d = load_table(spark, sf_dir, "documents")
    tok = doc_shingles(d, "doc_id", n=3)
    # signatures feed three consumers (banding + both estimate sides); all
    # three sit above the same signature-agg exchange, which AQE plans once
    # and reuses — measured FASTER than persist() (which added table-cache
    # materialization and, worse, leaked cached partitions because a query
    # function has no unpersist hook; VERDICT r2 task 7)
    sig = minhash_signatures(tok, num_hashes=64)
    pairs = lsh_candidate_pairs(sig, num_hashes=64, bands=16)
    return minhash_jaccard_estimate(sig, pairs, num_hashes=64).filter(
        F.col("est_jaccard") >= 0.5
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-duplicate retrieval (VERDICT r1 gap: the signature alone
    finds nothing): 16-bit band buckets -> candidates -> exact hamming <= 3
    via bit_count(a ^ b). Shingled tokens for discriminative signatures."""
    d = load_table(spark, sf_dir, "documents")
    sh = simhash(doc_shingles(d, "doc_id", n=3))
    return simhash_near_dup_pairs(sh, max_hamming=3, bands=4)


# -------------------------------------------------------------- simsearch


def q_simsearch_cosine_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.filter(F.col("vec_id") < 8), k=5)


SQL_SIMSEARCH_COSINE_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.q_id, c.vec_id AS c_id,
         round(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
  FROM q JOIN e c ON c.vec_id != q.q_id)
SELECT q_id, c_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, c_id ASC) AS rk
  FROM scored)
WHERE rk <= 5
"""


def q_simsearch_ivf(spark, sf_dir):
    """IVF ANN scale path (rows-only): hash-seeded data-sampled centroids,
    nprobe inverted lists, exact cosine on candidates. Recall >= 0.9 on
    clustered vectors is pinned in tests; the driver embeddings are
    near-uniform (IVF's worst case), so LSH is the default path there."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_cosine_topk(e, k=3, num_centroids=16, nprobe=6)


def q_simsearch_lsh(spark, sf_dir):
    """Banded sign-random-projection ANN (rows-only; scale path). Params
    measured at recall 0.88 vs exact cosine_topk on the sf0.001 embeddings
    (pinned ≥ 0.8 in tests/test_pipeline_ops.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(e, k=3, num_planes=24, bands=8)


# ------------------------------------------------------------------- text


def q_text_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("predicted", lang_id_col("text"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_TEXT_LANG_ID = f"""
SELECT lang, {lang_id_sql("text")} AS predicted, count(*) AS n
FROM documents GROUP BY 1, 2
"""


def q_text_quality(spark, sf_dir):
    """Quality scoring AND filtering, fused into one scan (VERDICT r5 task
    1: the driver sweep hard-caps at 50 rows, so the former text_quality +
    text_quality_filter entries are ONE query — which is also the shape a
    real pipeline runs: score the doc, apply the keep-gates, aggregate both
    in the same codegen'd groupBy). Keep-gates: >=5 tokens, >=0.6 alpha
    ratio, <=0.3 whitespace ratio — pure Column predicates, pushed at the
    scan."""
    d = load_table(spark, sf_dir, "documents")
    qc = quality_cols("text")
    keep = (
        (qc["n_tokens"] >= 5)
        & (qc["alpha_ratio"] >= 0.6)
        & (qc["space_ratio"] <= 0.3)
    )
    per_doc = d.select(
        "lang",
        qc["n_chars"].alias("n_chars"),
        qc["n_tokens"].alias("n_tokens"),
        qc["alpha_ratio"].alias("alpha_ratio"),
        qc["space_ratio"].alias("space_ratio"),
        keep.alias("keep"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha_ratio"),
        F.round(F.avg("space_ratio"), 4).alias("avg_space_ratio"),
        F.count_if(F.col("keep")).alias("n_kept"),
        F.round(F.count_if(F.col("keep")) / F.count(F.lit(1)), 6).alias(
            "keep_rate"
        ),
    )


SQL_TEXT_QUALITY = """
WITH per_doc AS (
  SELECT lang,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / length(text), 6) AS alpha_ratio,
         round(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
               / length(text), 6) AS space_ratio
  FROM documents)
SELECT lang, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(n_tokens), 4) AS avg_tokens,
       round(avg(alpha_ratio), 4) AS avg_alpha_ratio,
       round(avg(space_ratio), 4) AS avg_space_ratio,
       CAST(count(*) FILTER (n_tokens >= 5 AND alpha_ratio >= 0.6
                             AND space_ratio <= 0.3) AS BIGINT) AS n_kept,
       round(CAST(count(*) FILTER (n_tokens >= 5 AND alpha_ratio >= 0.6
                                   AND space_ratio <= 0.3) AS DOUBLE)
             / count(*), 6) AS keep_rate
FROM per_doc GROUP BY lang
"""


def q_text_token_count(spark, sf_dir):
    """Both tokenizations (round brief: 'whitespace + a BPE-ish regex') in
    ONE scan/groupBy — merged from the former text_token_count +
    text_bpe_tokens entries (VERDICT r5 task 1, 50-row sweep cap)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col("text")).alias("total_tokens"),
        F.sum(bpe_token_count_col("text")).alias("total_bpe_tokens"),
        F.round(F.avg(bpe_token_count_col("text")), 4).alias("avg_bpe_tokens"),
    )


SQL_TEXT_TOKEN_COUNT = f"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))) AS BIGINT)
         AS total_bpe_tokens,
       round(avg(len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))), 4)
         AS avg_bpe_tokens
FROM documents GROUP BY lang
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (round brief dedup flavor): exact
    all-pairs on a bounded id-range subsample with a DuckDB oracle (the
    driver embeddings are near-random — max pairwise cosine 0.44 — so the
    'near-dup' cut sits at the top-0.2% similarity tail, 0.35). The
    corpus-scale path bounds the pair set with banded LSH candidates
    (functions.simsearch.lsh_candidates) before this exact filter."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    va, vb = F.col("va"), F.col("vb")
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", _cosine(va, vb, _norm(va), _norm(vb)).alias("cosine")
    )
    return pairs.filter(F.col("cosine") >= 0.35)


SQL_DEDUP_EMBEDDING_COSINE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
"""


# text_quality_filter was merged INTO q_text_quality (n_kept/keep_rate
# columns) in round 6 — VERDICT r5 task 1: the driver sweep hard-caps at 50
# rows, and fusing score+filter into one groupBy is also one fewer scan.


def q_doc_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.withColumn("fp", fingerprint_col("text")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_fingerprints"),
    )


SQL_DOC_FINGERPRINT = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT sha256(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         AS n_fingerprints
FROM documents GROUP BY source
"""


# -------------------------------------------------------------- multimodal


def q_multimodal_meta(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    media = documents_as_media(d)
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


SQL_MULTIMODAL_META = """
SELECT 'text/plain' AS media_type, count(*) AS n_media,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents
"""


def q_multimodal_features(spark, sf_dir):
    """Full multimodal pipeline under the driver (r6: extends the former
    features-only entry to ALSO exercise resize_media + sample_frames —
    VERDICT r5 task 6 gave frame sampling a driver surface without a new
    registry slot): resize (pure-Column truncation stub) -> sample 4
    evenly-spaced frames per media row (Arrow mapInPandas, 1->N expansion)
    -> extract per-frame features (Arrow mapInPandas) -> per-frame_idx
    rollup. Rows-only check (pandas-UDF outputs have no DuckDB twin); the
    frame pipeline is pinned by tests/test_sketches_and_udf.py::
    test_multimodal_frame_sample_and_resize."""
    from raqc_spark.functions.multimodal import resize_media, sample_frames

    d = load_table(spark, sf_dir, "documents")
    media = resize_media(documents_as_media(d), target_bytes=256)
    frames = sample_frames(media, num_frames=4).select(
        (F.col("media_id") * 4 + F.col("frame_idx")).alias("media_id"),
        F.col("frame_idx"),
        F.col("frame_payload").alias("payload"),
        F.octet_length("frame_payload").cast("long").alias("n_bytes"),
    )
    feats = extract_features(frames)
    # frame_idx folds back out of the composite id — no join, no shuffle
    # beyond the one groupBy
    return (
        # pmod, not % — Spark's % keeps the dividend's sign, so a negative
        # (hashed) media_id would silently land frames in wrong buckets;
        # identical for the current non-negative doc ids (ADVICE r6)
        feats.withColumn("frame_idx", F.pmod(F.col("media_id"), F.lit(4)).cast("int"))
        .groupBy("frame_idx")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("n_bytes").alias("total_frame_bytes"),
            F.round(F.sum(F.element_at("feature", 4)), 2).alias("sum_f_chk"),
            F.round(F.avg(F.element_at("feature", 7)), 4).alias("avg_f_card"),
        )
    )


def q_media_bounds(spark, sf_dir):
    """media_bounds check family over the media-mapped documents table —
    the contract-reachable multimodal surface (VERDICT r3 task 6), driven
    through the REAL check compiler (violation_predicate_sql) so the oracle
    hash-verifies the same SQL text run_contract fuses into the stats pass."""
    from raqc_spark.checks.stats import violation_predicate_sql
    from raqc_spark.contract import Check, Threshold
    from raqc_spark.functions.hashing import with_derived
    from raqc_spark.functions.multimodal import media_as_code_table

    chk = Check(
        "media_payload_bounds", "media_bounds", column="content",
        threshold=Threshold("le", 0.01),
        params=(("min_bytes", 64), ("max_bytes", 100_000),
                ("type_col", "lang"), ("allowed_types", ("text/plain",))),
    )
    d = load_table(spark, sf_dir, "documents")
    prepared = with_derived(media_as_code_table(documents_as_media(d)))
    pred = violation_predicate_sql(chk)
    return prepared.groupBy(F.col("lang").alias("media_type")).agg(
        F.count(F.lit(1)).alias("n_media"),
        F.expr(f"count_if({pred})").alias("n_viol"),
        F.round(F.expr(f"count_if({pred})") / F.count(F.lit(1)), 9).alias(
            "viol_rate"
        ),
        (
            F.round(F.expr(f"count_if({pred})") / F.count(F.lit(1)), 9)
            <= F.lit(0.01)
        ).alias("ok"),
    )


SQL_MEDIA_BOUNDS = """
WITH m AS (
  SELECT 'text/plain' AS media_type, octet_length(encode(text)) AS nb,
         text
  FROM documents
)
SELECT media_type,
       count(*) AS n_media,
       CAST(coalesce(sum(CASE WHEN nb IS NULL OR nb < 64 OR nb > 100000
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_viol,
       round(CAST(coalesce(sum(CASE WHEN nb IS NULL OR nb < 64 OR nb > 100000
                          THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*), 9)
         AS viol_rate,
       round(CAST(coalesce(sum(CASE WHEN nb IS NULL OR nb < 64 OR nb > 100000
                          THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*), 9)
         <= 0.01 AS ok
FROM m
GROUP BY media_type
"""


def q_media_contract_verdicts(spark, sf_dir):
    """The media contract END-TO-END in the driver sweep (VERDICT r4 task
    7): default_media_contract over the media-mapped documents table,
    through the full run_contract lifecycle (media_bounds fused into the
    stats pass, uniqueness family, checkpoint sinks, verdict union).
    num_partitions dropped to 1 so partition_id (pmod(xxhash64(repo), P))
    needs no xxhash64 twin and every verdict row is DuckDB-reproducible."""
    import dataclasses

    from raqc_spark.contract import PartitionSpec
    from raqc_spark.functions.multimodal import (
        default_media_contract,
        media_as_code_table,
    )
    from raqc_spark.runner import fresh_verdicts

    contract = dataclasses.replace(
        default_media_contract(),
        partition_spec=PartitionSpec(key="repo", num_partitions=1),
    )
    d = load_table(spark, sf_dir, "documents")
    return fresh_verdicts(
        spark, contract, media_as_code_table(documents_as_media(d))
    )


SQL_MEDIA_CONTRACT_VERDICTS = """
WITH m AS (
  SELECT 'text/plain' AS repo, 'media/' || CAST(doc_id AS VARCHAR) AS path,
         strlen(text) AS content_length
  FROM documents
), base AS (
  SELECT count(*) AS n_rows,
    CAST(coalesce(sum(CASE WHEN content_length IS NULL
                       OR content_length < 1
                       OR content_length > 10000000 THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS v_media,
    CAST(coalesce(sum(CASE WHEN content_length IS NULL
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_null
  FROM m
), dup AS (
  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS v_dup
  FROM (SELECT count(*) AS c FROM m GROUP BY repo, path HAVING count(*) > 1)
)
SELECT CAST(-1 AS INT) AS partition_id, 'schema' AS check_name, true AS pass,
       CAST(0.0 AS DOUBLE) AS metric_value, CAST(0.0 AS DOUBLE) AS threshold,
       CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_violations
UNION ALL
SELECT CAST(0 AS INT), 'media_payload_bounds',
       round(CAST(v_media AS DOUBLE) / n_rows, 9) <= 0.0,
       round(CAST(v_media AS DOUBLE) / n_rows, 9), CAST(0.0 AS DOUBLE),
       n_rows, v_media FROM base
UNION ALL
SELECT CAST(0 AS INT), 'null_rate_payload',
       round(CAST(v_null AS DOUBLE) / n_rows, 9) <= 0.0,
       round(CAST(v_null AS DOUBLE) / n_rows, 9), CAST(0.0 AS DOUBLE),
       n_rows, v_null FROM base
UNION ALL
SELECT CAST(0 AS INT), 'uniqueness',
       round(CAST(d.v_dup AS DOUBLE) / b.n_rows, 9) <= 0.0,
       round(CAST(d.v_dup AS DOUBLE) / b.n_rows, 9), CAST(0.0 AS DOUBLE),
       b.n_rows, d.v_dup FROM base b, dup d
"""


PIPELINE_QUERIES = {
    # r6 registry consolidation (VERDICT r5 task 1): three rounds of sweep
    # data showed the driver records EXACTLY 50 rows regardless of per-
    # query cost — a hard row cap, not a time budget — so the registry now
    # holds exactly 50 real entries and every operator keeps its
    # CORRECTNESS row. Merged here: text_quality+text_quality_filter (one
    # scored+gated groupBy), text_token_count+text_bpe_tokens (one two-
    # tokenizer groupBy), multimodal_features now runs the full
    # resize->sample_frames->features pipeline, dedup_simhash (signatures)
    # folded into dedup_simhash_pairs (its first stage; signatures stay
    # pinned by tests/test_pipeline_ops.py), run_contract_verdicts dropped
    # in favor of the hash-gated run_contract_verdicts_oracle lifecycle.
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames_features": q_multimodal_features,
    "media_bounds": q_media_bounds,
    "media_contract_verdicts": q_media_contract_verdicts,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "simsearch_cosine_topk": q_simsearch_cosine_topk,
    "simsearch_lsh": q_simsearch_lsh,
    "simsearch_ivf": q_simsearch_ivf,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "text_token_count": q_text_token_count,
}

PIPELINE_ORACLE = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    # dedup_minhash_lsh / dedup_simhash_pairs / simsearch_lsh /
    # simsearch_ivf / multimodal_frames_features: rows-only (xxhash64 &
    # pandas-UDF paths have no DuckDB twin)
    "simsearch_cosine_topk": SQL_SIMSEARCH_COSINE_TOPK,
    "text_lang_id": SQL_TEXT_LANG_ID,
    "text_quality": SQL_TEXT_QUALITY,
    "text_token_count": SQL_TEXT_TOKEN_COUNT,
    "dedup_embedding_cosine": SQL_DEDUP_EMBEDDING_COSINE,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "media_bounds": SQL_MEDIA_BOUNDS,
    "media_contract_verdicts": SQL_MEDIA_CONTRACT_VERDICTS,
}
