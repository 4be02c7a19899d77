"""Pipeline-operator tests: LSH ANN recall, SimHash near-dup retrieval
(VERDICT r1 items 5/6 — the rows-only driver checks need pinned goldens)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raqc_spark.functions.dedup import (
    doc_tokens,
    simhash,
    simhash_near_dup_pairs,
)
from raqc_spark.functions.simsearch import cosine_topk, lsh_cosine_topk

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet(EMB).persist()
    df.count()
    yield df
    df.unpersist()


def test_lsh_ann_recall_vs_exact(spark, embeddings):
    """Banded OR-construction must hold >= 0.8 recall against the exact
    brute-force top-k (measured 0.88 at planes=24/bands=8 on this fixture)."""
    k = 3
    gt = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk(embeddings, embeddings, k=k).collect()
    }
    ann = {
        (r["q_id"], r["c_id"])
        for r in lsh_cosine_topk(
            embeddings, k=k, num_planes=24, bands=8
        ).collect()
    }
    recall = len(gt & ann) / len(gt)
    assert recall >= 0.8, f"ANN recall {recall:.3f} < 0.8"


def test_lsh_no_vector_explosion(spark, embeddings):
    """Regression (VERDICT r1): projections are per-row higher-order
    expressions — the plan must not posexplode vector dims."""
    ann = lsh_cosine_topk(embeddings, k=3, num_planes=24, bands=8)
    plan = ann._jdf.queryExecution().analyzed().toString()
    assert "posexplode" not in plan


def test_simhash_near_dup_pairs_golden(spark):
    """Exact dup -> hamming 0; one-token-changed -> small hamming;
    disjoint vocab -> absent."""
    base = " ".join(f"tok{i}" for i in range(60))
    mod = " ".join(("CHANGED" if i == 7 else f"tok{i}") for i in range(60))
    other = " ".join(f"zz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, mod), (3, other), (4, base)], ["doc_id", "text"]
    )
    sh = simhash(doc_tokens(df, "doc_id"))
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(sh, max_hamming=6, bands=8).collect()
    }
    assert pairs[(1, 4)] == 0  # exact duplicate
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6  # near duplicate
    assert not any(3 in p for p in pairs)  # unrelated doc never paired


def test_simhash_pairs_pigeonhole_guard():
    from raqc_spark.contract import Check  # noqa: F401 (import sanity)

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(None, max_hamming=4, bands=4)


def test_lsh_bands_must_divide_num_hashes(spark):
    """A band count that leaves trailing hashes out is refused, not
    silently banded over the first num_hashes - num_hashes % bands."""
    from raqc_spark.functions.dedup import lsh_candidate_pairs

    sig = spark.createDataFrame(
        [(d, list(range(64))) for d in (1, 2)], "doc long, sig array<bigint>"
    )
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sig, num_hashes=64, bands=10)


def test_pipeline_ops_build_through_shared_steps(spark, monkeypatch):
    """Each banded-LSH candidate join runs dedup.band_pairs and each top-k
    runs simsearch._top_k: the DataFrames are built (no action) through
    the one shared step."""
    from raqc_spark.functions import dedup, simsearch

    calls = []
    for mod, helper in ((dedup, "band_pairs"), (simsearch, "_top_k")):
        def spy(*args, _helper=helper, _fn=getattr(mod, helper), **kwargs):
            calls.append(_helper)
            return _fn(*args, **kwargs)

        monkeypatch.setattr(mod, helper, spy)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -0.5, 2.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    sig = spark.createDataFrame(
        [(1, list(range(8)))], "doc long, sig array<bigint>"
    )
    sh = spark.createDataFrame([(1, 7), (2, 5)], "doc long, simhash long")
    builds = {
        "lsh_candidate_pairs": (
            lambda: dedup.lsh_candidate_pairs(sig, num_hashes=8, bands=4),
            {"band_pairs"},
        ),
        "simhash_near_dup_pairs": (
            lambda: dedup.simhash_near_dup_pairs(sh, max_hamming=3, bands=4),
            {"band_pairs"},
        ),
        "cosine_topk": (lambda: simsearch.cosine_topk(emb, emb, k=2), {"_top_k"}),
        "ivf_cosine_topk": (
            lambda: simsearch.ivf_cosine_topk(emb, k=2, num_centroids=2, nprobe=2),
            {"_top_k"},
        ),
        "lsh_cosine_topk": (
            lambda: simsearch.lsh_cosine_topk(emb, k=2, num_planes=4, bands=2),
            {"band_pairs", "_top_k"},
        ),
    }
    for name, (build, want) in builds.items():
        calls.clear()
        build()
        assert set(calls) == want, (name, calls)


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """MinHash est_jaccard on LSH candidates stays within sketch tolerance
    (64 hashes -> se ~ sqrt(j(1-j)/64) <= 0.0625) of exact shingle Jaccard."""
    from raqc_spark.functions.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
        unigram_jaccard_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    tok = doc_shingles(d, "doc_id", n=3)
    sig = minhash_signatures(tok, num_hashes=64).persist()
    pairs = lsh_candidate_pairs(sig, num_hashes=64, bands=16)
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_jaccard_estimate(sig, pairs, 64)
        .filter(F.col("est_jaccard") >= 0.5)
        .collect()
    }
    assert est, "expected some near-dup candidates in driver documents"
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in unigram_jaccard_pairs(tok, min_jaccard=0.0)
        .join(
            spark.createDataFrame(
                [(a, b) for a, b in est], ["doc_a", "doc_b"]
            ),
            ["doc_a", "doc_b"],
            "left_semi",
        )
        .collect()
    }
    sig.unpersist()
    for pair, e in est.items():
        x = exact.get(pair, 0.0)
        assert abs(e - x) <= 4 * 0.0625, (pair, e, x)


def _clustered_embeddings(spark, id_of=int):
    """480 vectors in 8 tight clusters (16 dims); ``id_of`` maps the row
    index to its vec_id."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 1, (8, 16))
    rows = []
    for i in range(480):
        c = i % 8
        v = centers[c] + rng.normal(0, 0.15, 16)
        rows.append((id_of(i), [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_ivf_ann_recall_on_clustered_data(spark):
    """IVF's contract is cluster structure: on clustered vectors the probed
    inverted lists must recover >= 0.9 of exact top-k. (On the near-uniform
    driver embeddings IVF measures ~0.6 — that is the data violating IVF's
    assumption, which is why lsh_cosine_topk is the default scale path.)"""
    from raqc_spark.functions.simsearch import ivf_cosine_topk

    df = _clustered_embeddings(spark)
    gt = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk(df, df, k=3).collect()
    }
    ann = {
        (r["q_id"], r["c_id"])
        for r in ivf_cosine_topk(df, k=3, num_centroids=16, nprobe=4).collect()
    }
    recall = len(gt & ann) / len(gt)
    assert recall >= 0.9, f"IVF recall {recall:.3f} < 0.9 on clustered data"


def test_ivf_exhaustive_probe_matches_brute_force(spark):
    """Probing every inverted list makes IVF exact: the GEMM scorer returns
    the same rows (ids, Spark-rounded cosines and ranks) as the
    oracle-checked brute-force cosine_topk on the clustered data."""
    from raqc_spark.functions.simsearch import ivf_cosine_topk

    df = _clustered_embeddings(spark)
    q = ivf_cosine_topk(df, k=3, num_centroids=16, nprobe=16)
    ivf_rows = {tuple(r) for r in q.collect()}
    assert len(ivf_rows) == 480 * 3
    assert ivf_rows == {tuple(r) for r in cosine_topk(df, df, k=3).collect()}


def test_ivf_string_ids_keep_their_type(spark):
    """String ids flow through the GEMM scorer as strings and give the
    same neighbours as the integer-id run mapped through the same ids.
    Probing every list makes the search exact, so the centroids (chosen by
    id hash, which differs between the two id types) do not matter; the
    zero-padded ids keep the c_id tie order."""
    from pyspark.sql.types import StringType

    from raqc_spark.functions.simsearch import ivf_cosine_topk

    name = "v{:04d}".format
    kw = dict(k=3, num_centroids=8, nprobe=8)
    by_int = ivf_cosine_topk(_clustered_embeddings(spark), **kw)
    by_str = ivf_cosine_topk(_clustered_embeddings(spark, name), **kw)
    assert by_str.schema["q_id"].dataType == StringType()
    assert by_str.schema["c_id"].dataType == StringType()
    expect = {
        (name(r["q_id"]), name(r["c_id"]), r["cosine"], r["rk"])
        for r in by_int.collect()
    }
    assert {tuple(r) for r in by_str.collect()} == expect


def test_ivf_local_topk_keeps_half_up_ties(spark):
    """The scorer's local top-k must not cut a candidate that Spark's
    HALF_UP rounding ties with the k-th: round(5e-7, 6) is 1e-6 in Spark
    (0.0 under numpy's half-even), so c_id 1 ties c_id 2 and wins on
    c_id ASC in the final window. Norms are 1.0 so the cosines are exact."""
    import numpy as np
    import pandas as pd

    from raqc_spark.functions.simsearch import _ivf_group_topk

    spark_rounded = spark.range(1).select(
        F.round(F.lit(5e-7), 6).alias("a"), F.round(F.lit(1e-6), 6).alias("b")
    ).first()
    assert spark_rounded["a"] == spark_rounded["b"] == 1e-6

    left = pd.DataFrame(
        {"q_id": [0], "q_norm": [1.0], "q_vec": [np.array([1.0])]}
    )
    right = pd.DataFrame(
        {
            "c_id": [1, 2],
            "c_norm": [1.0, 1.0],
            "c_vec": [np.array([5e-7]), np.array([1e-6])],
        }
    )
    out = _ivf_group_topk(1, "int64")(left, right)
    assert 1 in set(out["c_id"]), out


def test_ivf_scoring_fanout_survives_aqe(spark):
    """VERDICT r3 task 3 regression guard: the probes/members list join must
    keep its explicit REPARTITION_BY_NUM exchanges on BOTH sides. AQE sizes
    frames by BYTES; the candidate frames are small, so without the pinned
    fan-out either side gets coalesced to ~1 partition (or chosen as the
    broadcast side) and the pair explosion plus every dot product serializes
    into one task (measured 16.9s -> 2.9s at sf0.1)."""
    from raqc_spark.functions.simsearch import ivf_cosine_topk

    spark.catalog.clearCache()
    emb = spark.read.parquet(EMB)
    q = ivf_cosine_topk(emb, k=3, num_centroids=8, nprobe=4, list_splits=4)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("REPARTITION_BY_NUM") == 2, plan
    # both pinned exchanges hash on the list-join key (cid, sub)
    import re
    parts = re.findall(r"hashpartitioning\(cid[^)]*, 32\), REPARTITION_BY_NUM", plan)
    assert len(parts) == 2, plan


def test_simhash_matches_explode_reference(spark):
    """The fused 64-agg simhash (VERDICT r2 fix) must produce bit-identical
    signatures to the ±1-vote explode formulation it replaced."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(50)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    tok = doc_tokens(df, "doc_id")
    got = {r["doc"]: r["simhash"] for r in simhash(tok).collect()}

    # reference: the round-2 explode(0..63) ±1 vote implementation
    bits = tok.select(
        "doc",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        F.xxhash64("token").alias("hv"),
    ).select(
        "doc", "b",
        F.expr(
            "(CAST(shiftright(hv, CAST(b AS INT)) & 1 AS BIGINT) * 2 - 1)"
        ).alias("vote"),
    )
    ref = {
        r["doc"]: r["simhash"]
        for r in bits.groupBy("doc", "b")
        .agg(F.sum("vote").alias("v"))
        .groupBy("doc")
        .agg(
            F.sum(
                F.when(
                    F.col("v") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
        .collect()
    }
    assert got == ref


def test_simhash_plan_has_no_explode_and_one_shuffle(spark):
    """Scale regression guard: the signature build must not multiply token
    rows ×64 (no Generate/explode) and must shuffle exactly once."""
    df = spark.createDataFrame([(1, "a b c"), (2, "b c d")], ["doc_id", "text"])
    # doc_tokens itself explodes tokens (legitimate); assert on the plan ABOVE
    # a pre-tokenized input instead
    tok = df.selectExpr("doc_id AS doc", "explode(split(text, ' ')) AS token")
    plan = simhash(tok.select("doc", "token"))._jdf.queryExecution().optimizedPlan().toString()
    # exactly the tokenizer's explode — the signature build adds none
    assert plan.count("Generate explode") == 1


def test_ivf_single_scoring_pass(spark):
    """VERDICT r2: ivf_cosine_topk must score corpus×centroids ONCE. The
    corpus assignment derives from the same ranked frame as the query probes
    (min_by, not a rank filter), so AQE plans the window's shuffle once and
    the second consumer is a ReusedExchange — asserted on the FINAL adaptive
    plan (the initial plan always shows both subtrees). Uses an UNCACHED
    scan: per-branch table-cache query stages canonicalize differently and
    mask the reuse, so the persisted test fixture can't exercise this (the
    CacheManager substitutes ANY matching cached subtree, so the module
    fixture's persisted scan of the same path must be dropped first)."""
    from raqc_spark.functions.simsearch import ivf_cosine_topk

    spark.catalog.clearCache()
    emb = spark.read.parquet(EMB)
    q = ivf_cosine_topk(emb, k=3, num_centroids=8, nprobe=4)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    # one executed scoring join; its doc-window exchange reused by the
    # corpus-assignment branch
    assert final.count("BroadcastNestedLoopJoin") == 1, final
    assert "ReusedExchange" in final and "hashpartitioning(doc" in final


def test_no_cache_leak_after_query_sweep(spark):
    """VERDICT r2 task 7 'Done' criterion: a full queries() sweep leaves no
    persisted partitions behind (query functions must not persist without an
    unpersist hook; run_contract pool-manages and unpersists its own)."""
    import __spark_entry__ as entry_mod

    spark.catalog.clearCache()
    sf = "/root/testdata/sf0.001"
    for name, fn in entry_mod.queries().items():
        fn(spark, sf).count()
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    assert leaked.size() == 0, f"{leaked.size()} cached RDDs leaked"
