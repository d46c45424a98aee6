"""Operator-level checks for the rows-only (non-SQL-oracle) surfaces:
LSH recall vs the exact oracle, ANN sanity, SimHash, multimodal plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import load
from lagom_kinesis_spark.operators import multimodal
from lagom_kinesis_spark.operators.similarity import simhash_signatures
from lagom_kinesis_spark.operators.text import tokens
from lagom_kinesis_spark.registry import all_queries
from lagom_kinesis_spark.session import scoped_confs
from tests.conftest import SF_DIR

QS = all_queries()


def test_minhash_lsh_recalls_exact_high_jaccard_pairs(spark):
    """FIXTURE-TIME SELF-CHECK for the dedup_minhash_lsh oracle gate: the
    gate claims banded-LSH = exact all-pairs at τ=0.8, which holds only if
    no qualifying pair is band-missed (P(miss) = (1-j⁴)¹⁶ ≈ 2e-4 at
    j=0.8). The driver REGENERATES fixtures between rounds, so run this
    against the new fixtures at round start (with tests/test_fixtures.py).
    If it ever fails after a regeneration, a borderline pair got unlucky:
    widen the band structure (num_hashes=128, bands=16 keeps r=8... use
    num_hashes=128, bands=32 for r=4, miss ≈ 5e-8) in dedup_minhash_lsh —
    the exact-verify step keeps correctness, only candidate-join cost
    changes. The failure message lists each missed pair and every pair in
    the risk band just above the threshold."""
    from lagom_kinesis_spark.functions import r6
    from lagom_kinesis_spark.operators.text import jaccard, shingles

    # Full-corpus exact all-pairs (the gate's oracle scope — the sampled
    # dedup_jaccard_pairs query covers only doc_id % 2 = 0); O(n²) is fine
    # at test scale and this runs nowhere near the scale path.
    d = load(spark, SF_DIR, "documents")
    sub = d.select("doc_id", shingles(tokens("text")).alias("sh"))
    a = sub.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sub.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    exact_jac = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jac", r6(jaccard(F.col("sh_a"), F.col("sh_b"))))
        .filter(F.col("jac") >= 0.7)
        .collect()
    }
    qualifying = {p for p, j in exact_jac.items() if j >= 0.8}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in QS["dedup_minhash_lsh"].fn(spark, SF_DIR).collect()
    }
    missed = qualifying - lsh
    borderline = sorted(
        (p, j) for p, j in exact_jac.items() if 0.8 <= j < 0.85
    )
    assert not missed, (
        f"LSH missed qualifying pairs {sorted(missed)[:5]} — widen bands "
        f"(see docstring). Risk-band pairs (jac in [0.8, 0.85)): {borderline}"
    )


def test_simhash_identical_docs_distance_zero(spark):
    """Exact duplicate docs must produce identical SimHash signatures."""
    d = load(spark, SF_DIR, "documents")
    sigs = simhash_signatures(d, "doc_id", tokens("text"))
    joined = (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .join(sigs, "doc_id")
        .groupBy("h")
        .agg(F.countDistinct("sig").alias("n_sigs"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    bad = joined.filter(F.col("n_sigs") > 1).count()
    assert bad == 0


def test_ann_lsh_results_subset_of_valid_cosines(spark):
    """ANN hits must carry correct cosine values (cross-checked against the
    exact query for overlapping (q_id, vec_id) pairs) and include the query
    vector itself (cosine 1.0 lands in its own bucket by construction)."""
    exact = {
        (r["q_id"], r["vec_id"]): r["cos_sim"]
        for r in QS["sim_topk_cosine"].fn(spark, SF_DIR).collect()
    }
    ann = QS["sim_ann_lsh"].fn(spark, SF_DIR).collect()
    assert ann, "ANN returned nothing"
    for r in ann:
        key = (r["q_id"], r["vec_id"])
        if key in exact:
            assert abs(exact[key] - r["cos_sim"]) < 1e-9
    self_hits = {r["q_id"] for r in ann if r["q_id"] == r["vec_id"]}
    assert self_hits == {r["q_id"] for r in ann}


def test_approx_count_distinct_within_tolerance(spark):
    """Native HLL++ (approx_count_distinct, the raw-throughput path) AND
    the portable-HLL query estimate both land within 5% of exact."""
    from lagom_kinesis_spark.catalog import load

    li = load(spark, SF_DIR, "lineitem")
    exact = {
        r["l_returnflag"]: r["exact_parts"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact_parts"))
        .collect()
    }
    native = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("n")
    )
    for r in native.collect():
        ex = exact[r["l_returnflag"]]
        assert abs(r["n"] - ex) <= 0.05 * ex + 1
    for r in QS["agg_approx_count_distinct"].fn(spark, SF_DIR).collect():
        ex = exact[r["l_returnflag"]]
        assert abs(r["approx_parts"] - ex) <= 0.05 * ex + 1


def test_cms_overestimates_within_collision_mass(spark):
    """CMS guarantees est >= true count; with w=1024 the expected per-row
    collision mass is N/1024, so the min-over-4-rows overshoot must stay a
    small fraction of the corpus token count."""
    from lagom_kinesis_spark.operators.text import tokens as tok

    n_tokens = (
        load(spark, SF_DIR, "documents")
        .select(F.explode(tok("text")).alias("t"))
        .count()
    )
    for r in QS["text_cms_heavy_hitters"].fn(spark, SF_DIR).collect():
        assert r["cms_est"] >= r["exact_cnt"]
        assert r["cms_est"] - r["exact_cnt"] <= max(0.02 * n_tokens, 10)


def test_multimodal_decode_features(spark):
    blobs = multimodal.attach_payload(load(spark, SF_DIR, "documents"))
    feats = multimodal.decode_features(blobs)
    rows = feats.collect()
    assert rows
    by_id = {r["doc_id"]: r for r in rows}
    doc = load(spark, SF_DIR, "documents").filter(F.col("doc_id") == 0).collect()[0]
    assert by_id[0]["n_bytes"] == len(doc["text"].encode())
    assert by_id[0]["modality"] == "image"  # doc_id 0 % 3 == 0


def test_multimodal_unknown_modality_raises(spark):
    """The stub decoder must refuse modalities it cannot decode (mandate:
    clearly-marked NotImplementedError, not silent garbage)."""
    blobs = multimodal.attach_payload(
        load(spark, SF_DIR, "documents").limit(3), modality_expr=F.lit("video")
    )
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        multimodal.decode_features(blobs).collect()


def test_percentile_approx_close_to_exact(spark):
    """The production regime (accuracy << N, a real approximation) stays
    within 1% of exact; the registered query (accuracy >= N, provably
    exact ranks) must agree with exact to rounding."""
    lo = (
        load(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 1000).alias("a"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("e"),
        )
    )
    for r in lo.collect():
        rel = abs(float(r["a"]) - r["e"]) / max(r["e"], 1)
        assert rel < 0.01, f"approx median off by {rel:.3%}"
    for r in QS["agg_percentile_approx"].fn(spark, SF_DIR).collect():
        rel = abs(r["approx_median"] - r["exact_median"]) / max(r["exact_median"], 1)
        assert rel < 0.01, f"approx median off by {rel:.3%}"


def test_golden_lsh_pair_sets(spark):
    """Golden pins for the deterministic rows-only LSH ops (SURVEY.md §5.2
    layer 5): xxhash64-based signatures are pure functions of the frozen
    fixtures, so the pair sets are stable across runs/machines."""
    import hashlib

    # Pair sets are pure functions of the fixture CONTENT, which differs
    # per scale factor (sf0.001 and sf0.01 both hold 500 docs but not the
    # same docs) — pins are per-SF.
    golden_by_sf = {
        "sf0.001": {
            "dedup_minhash_lsh": (28, "7d6e643b2347380cccd696dbdfe6f8e8"),
            "dedup_simhash": (25, "94163c74bd411151bf6086c66b5da3f2"),
        },
        "sf0.01": {
            "dedup_minhash_lsh": (25, "68dfba100641afd2cc5a6a485fa22b66"),
            "dedup_simhash": (13, "24d7b7b4b0cb1d6e649084bb11c86cb8"),
        },
    }
    sf_key = SF_DIR.rstrip("/").rsplit("/", 1)[-1]
    if sf_key not in golden_by_sf:
        import pytest as _pytest

        _pytest.skip(f"no golden pins for {sf_key}")
    golden = golden_by_sf[sf_key]
    for name, (n, digest) in golden.items():
        rows = sorted(tuple(r)[:2] for r in QS[name].fn(spark, SF_DIR).collect())
        assert len(rows) == n, f"{name}: {len(rows)} pairs (expected {n})"
        got = hashlib.md5(repr(rows).encode()).hexdigest()
        assert got == digest, f"{name}: pair-set hash drifted: {got}"


def test_observation_metrics(spark):
    """Observation API: accumulator-style metrics piggybacked on a real
    action — the zero-extra-pass way to instrument 100 TB pipelines."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F2

    from lagom_kinesis_spark.catalog import load as _load

    obs = Observation("lineitem_metrics")
    li = _load(spark, SF_DIR, "lineitem").observe(
        obs,
        F2.count(F2.lit(1)).alias("rows_seen"),
        F2.sum("l_quantity").alias("total_qty"),
    )
    out = li.filter(F2.col("l_quantity") >= 30).count()
    m = obs.get
    assert m["rows_seen"] > out > 0
    assert m["total_qty"] > 0


def test_hll_sketch_union_within_tolerance(spark):
    """Union estimates within 5% of the exact global distinct count, for
    BOTH sketch families: native DataSketches (hll_sketch_agg partials
    merged by hll_union_agg — engine-private binaries, rows-only) and the
    portable-HLL query (register max-merge, oracle-checked)."""
    from lagom_kinesis_spark.catalog import load
    from tests.conftest import SF_DIR

    o = load(spark, SF_DIR, "orders")
    exact = o.select("o_custkey").distinct().count()
    native = (
        o.groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    assert abs(native - exact) <= max(2, 0.05 * exact)
    row = QS["agg_hll_sketch_union"].fn(spark, SF_DIR).collect()[0]
    assert abs(row["est_total_custkeys"] - exact) <= max(2, 0.05 * exact)
    assert row["sum_groupwise_exact"] >= exact


def test_sketch_merge_laws(spark):
    """The rollup-without-rescan algebra the sketches promise at scale:
    max-merging per-group HLL registers equals hashing the whole table,
    and summing two halves' CMS counter tables cell-wise equals the CMS
    of the union — both EXACT equalities, not approximations."""
    from lagom_kinesis_spark.operators import sketches

    o = load(spark, SF_DIR, "orders")
    per_prio = sketches.hll_registers(o, F.col("o_custkey"), ("o_orderpriority",))
    merged = {
        (r["__hll_idx"]): r["__hll_rho"]
        for r in sketches.hll_union(per_prio, ()).collect()
    }
    whole = {
        (r["__hll_idx"]): r["__hll_rho"]
        for r in sketches.hll_registers(o, F.col("o_custkey"), ()).collect()
    }
    assert merged == whole

    toks = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t"))
    )
    half_a = sketches.cms_counters(toks.filter(F.col("doc_id") % 2 == 0), F.col("t"))
    half_b = sketches.cms_counters(toks.filter(F.col("doc_id") % 2 == 1), F.col("t"))
    summed = {
        (r["j"], r["pos"]): r["c"]
        for r in half_a.unionAll(half_b)
        .groupBy("j", "pos")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    whole_cms = {
        (r["j"], r["pos"]): r["c"]
        for r in sketches.cms_counters(toks, F.col("t")).collect()
    }
    assert summed == whole_cms


def test_kmv_merge_law_and_estimation(spark):
    """KMV/theta rollup-without-rescan: the bottom-k of the UNION of
    per-segment bottom-k sets equals the bottom-k of the raw union — an
    EXACT equality (any hash in the union's true bottom-k is in its own
    segment's bottom-k). Also pins the estimator: with k=8 the per-type
    sketches saturate even at sf0.001, and the python-side KMV estimate
    from the same retained hashes matches the Spark expression."""
    from pyspark.sql.window import Window

    from lagom_kinesis_spark.operators import sketches

    ev = load(spark, SF_DIR, "events")
    k = 8
    per_type = sketches.kmv_sketch(ev, F.col("user_id"), ("event_type",), k=k)
    merged = sorted(
        r["__kmv_h"]
        for r in per_type.select("__kmv_h")
        .dropDuplicates(["__kmv_h"])
        .withColumn(
            "__rn", F.row_number().over(Window.orderBy("__kmv_h"))
        )
        .filter(F.col("__rn") <= k)
        .collect()
    )
    whole = sorted(
        r["__kmv_h"] for r in sketches.kmv_sketch(ev, F.col("user_id"), (), k=k).collect()
    )
    assert merged == whole and len(whole) == k

    # Estimator sanity vs the exact distinct count (k=8 → coarse; wide tol).
    theta = whole[-1]
    est = (k - 1) * sketches.THETA_DOMAIN / theta
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) <= max(10, 0.8 * exact)


def test_theta_setops_close_to_exact(spark):
    """The theta set-algebra estimates must track the exact counts: at
    sf0.001 neither sketch saturates (15 users/type < k=64), so ALL four
    estimates are exact; assert that, plus the intersection tolerance
    contract that holds when saturated."""
    row = QS["agg_theta_sketch_setops"].fn(spark, SF_DIR).collect()[0]
    exact = row["n_exact_intersection"]
    assert abs(row["est_intersection"] - exact) <= max(10, 0.3 * exact)
    # union >= max side; click_only + intersection ~ |click|
    assert row["est_union"] >= row["est_click_only"] + row["est_purchase_only"]


def test_hll_intersection_close_to_exact(spark):
    """Inclusion-exclusion over sketches is noisier than a single estimate
    (three error terms) — assert the overlap estimate lands within 15% of
    the exact INTERSECT count (plus small-count slack)."""
    row = QS["agg_hll_intersection"].fn(spark, SF_DIR).collect()[0]
    exact = row["n_exact_both"]
    assert abs(row["est_intersection"] - exact) <= max(10, 0.15 * exact)


def test_ivf_kmeans_quantizer_same_pipeline(spark):
    """The IVF pipeline (operators/similarity.ivf_topk) is quantizer-
    agnostic: a KMeans-trained centroid matrix drops in where the
    registered query uses the md5-sampled one, with the identical plan
    shape. Checks the structural contract (schema, ≤k per query, query
    self-hit with cosine 1.0, candidate cosines agree with the exact
    scorer) — the sampled-centroid variant is the oracle-checked one."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from lagom_kinesis_spark.operators.similarity import ivf_topk

    e = load(spark, SF_DIR, "embeddings")
    data = e.select("vec_id", "embedding", array_to_vector("embedding").alias("__fv"))
    model = KMeans(k=8, seed=42, maxIter=10, featuresCol="__fv").fit(data)
    C = np.vstack([c for c in model.clusterCenters()])

    out = ivf_topk(e, C, F.col("vec_id") < 5, k=10, n_probe=2)
    assert [f.name for f in out.schema.fields] == ["q_id", "vec_id", "cos_sim", "rn"]
    rows = out.collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    exact = {
        (r["q_id"], r["vec_id"]): r["cos_sim"]
        for r in QS["sim_topk_cosine"].fn(spark, SF_DIR).collect()
    }
    for q_id, hits in per_q.items():
        assert len(hits) <= 10
        # A query's own vector shares its list with itself → always top hit.
        self_hit = [r for r in hits if r["vec_id"] == q_id]
        assert self_hit and abs(self_hit[0]["cos_sim"] - 1.0) < 1e-6
        for r in hits:
            key = (r["q_id"], r["vec_id"])
            if key in exact:
                assert abs(exact[key] - r["cos_sim"]) < 1e-9


def test_ivf_sampled_centroids_recall_vs_exact(spark):
    """Recall evidence for the registered (oracle-checked) IVF variant:
    with 2 of 8 lists probed, the IVF top-10 must recover a usable share
    of the exact top-10 and always contain the query itself."""
    ivf = QS["sim_ann_ivf"].fn(spark, SF_DIR).collect()
    exact = QS["sim_topk_cosine"].fn(spark, SF_DIR).collect()
    ivf_sets, exact_sets = {}, {}
    for r in ivf:
        ivf_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    assert set(ivf_sets) == set(exact_sets)
    recalls = [
        len(ivf_sets[q] & exact_sets[q]) / len(exact_sets[q]) for q in exact_sets
    ]
    # Self-hit guarantees > 0; on the fixtures 2/8 probing recovers well
    # above a token share of the exact neighbors.
    assert all(q in ivf_sets[q] for q in ivf_sets)
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_pq_adc_recall_vs_exact(spark):
    """Recall evidence for the PQ variants: ADC ranking (4-byte codes, no
    original vectors at scoring time) must beat chance by a wide margin
    against the exact cosine top-10. The floors are statistical, not
    IVF-grade: PQ ranks by the QUANTIZED distance (full reconstruction
    error — 8 sampled codewords per 16-dim sub-space is coarse on these
    near-isotropic fixture vectors), where IVF only prunes candidates and
    re-ranks exactly. Chance recall here is k/N = 10/|corpus| (< 0.01);
    the observed ~0.1–0.2 is signal, and a trained (k-means) codebook
    slots into the same plan for production-grade recall."""
    exact = QS["sim_topk_cosine"].fn(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    chance = 10 / 1000  # k / |sf0.001 corpus|, conservative upper bound
    for name, floor in (("sim_ann_pq", 0.1), ("sim_ann_ivfpq", 0.05)):
        got = {}
        for r in QS[name].fn(spark, SF_DIR).collect():
            got.setdefault(r["q_id"], set()).add(r["vec_id"])
        assert set(got) == set(exact_sets), name
        recalls = [
            len(got[q] & exact_sets[q]) / len(exact_sets[q]) for q in exact_sets
        ]
        mean = sum(recalls) / len(recalls)
        assert mean >= floor, (name, recalls)
        assert mean >= 5 * chance, (name, "not better than chance", recalls)


def test_pq_trained_codebook_beats_sampled(spark):
    """Pins the 'a k-means codebook slots into the same plan' claim
    (sim_ann_pq docstring / VERDICT r4 ask #7): train Lloyd's codebooks on
    the fixture (deterministic md5-ordered sample, no RNG), run the SAME
    pq_adc_topk plan, and require (a) recall@10 at or above the sampled
    8-codeword codebook's — the sampled floor is a statistical artifact of
    using arbitrary data points as codewords; trained centroids can only
    reduce quantization error on average — and (b) an IDENTICAL physical
    plan skeleton: training swaps the literal-embedded model, never the
    plan shape."""
    import numpy as np

    from lagom_kinesis_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    e = load(spark, SF_DIR, "embeddings")
    qrows = e.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    q_ids = [r["vec_id"] for r in qrows]
    q_vecs = np.array([r["embedding"] for r in qrows], dtype=np.float64)

    exact_sets: dict[int, set] = {}
    for r in QS["sim_topk_cosine"].fn(spark, SF_DIR).collect():
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])

    def mean_recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r["q_id"], set()).add(r["vec_id"])
        assert set(got) == set(exact_sets)
        return sum(
            len(got[q] & exact_sets[q]) / len(exact_sets[q]) for q in exact_sets
        ) / len(exact_sets)

    trained = train_pq_codebooks(e)
    trained_df = pq_adc_topk(e, trained, q_ids, q_vecs, k=10)
    sampled_df = QS["sim_ann_pq"].fn(spark, SF_DIR)
    r_trained, r_sampled = mean_recall(trained_df), mean_recall(sampled_df)
    assert r_trained >= r_sampled, (r_trained, r_sampled)

    def skeleton(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "simple"
        )
        return [
            line.lstrip(" +-*(0123456789) ").split(" ")[0]
            for line in plan.splitlines()
            if line.strip()
        ]

    assert skeleton(trained_df) == skeleton(sampled_df)


def test_scd2_apply_edge_semantics(spark):
    """scd2_apply edges the merge_scd2 fixture query can't exercise:
    history rows pass through untouched, a same-attrs update is a no-op,
    a NULL-attr matched row compares null-safely, and a new key inserts
    as current even when its attr is NULL."""
    from datetime import datetime

    from lagom_kinesis_spark.operators.merge import scd2_apply

    t0 = datetime(2020, 1, 1)
    t1 = datetime(2021, 1, 1)
    eff = datetime(2022, 6, 1)
    target = spark.createDataFrame(
        [
            # k=1: history row + current row whose attr will change
            (1, "old", t0, t1, False),
            (1, "a", t1, None, True),
            # k=2: current, update carries identical attr -> no-op
            (2, "b", t0, None, True),
            # k=3: current attr NULL, update NULL -> null-safe no-op
            (3, None, t0, None, True),
            # k=4: no update at all
            (4, "d", t0, None, True),
        ],
        "k int, seg string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "a2", eff),
            (2, "b", eff),
            (3, None, eff),
            (5, None, eff),  # new key with NULL attr
            # NULL eff = invalid CDC input: must be IGNORED entirely.
            # (Previously it slipped past the close leg but inserted on
            # the fresh leg, forking a second current version for k=4.)
            (4, "d2", None),
        ],
        "k int, seg string, eff timestamp",
    )
    out = scd2_apply(target, updates, keys=["k"], attrs=["seg"])
    rows = {
        (r["k"], r["seg"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    }
    assert rows == {
        (1, "old", t0, t1, False),  # history untouched
        (1, "a", t1, eff, False),  # closed
        (1, "a2", eff, None, True),  # new version
        (2, "b", t0, None, True),  # no-op kept
        (3, None, t0, None, True),  # null-safe no-op kept
        (4, "d", t0, None, True),  # unmatched kept
        (5, None, eff, None, True),  # new key inserted
    }


def test_ann_multiprobe_recall_at_least_single_probe(spark):
    """Multi-probe LSH's whole point: probing the 12 Hamming-1 neighbor
    buckets must recall AT LEAST every pair single-probe finds (its exact
    bucket is probe 0), and recall vs the exact top-10 must be >= the
    single-probe query's — with correct cosines on every overlapping hit."""
    exact = {
        (r["q_id"], r["vec_id"]): r["cos_sim"]
        for r in QS["sim_topk_cosine"].fn(spark, SF_DIR).collect()
    }
    single = {(r["q_id"], r["vec_id"]) for r in QS["sim_ann_lsh"].fn(spark, SF_DIR).collect()}
    multi_rows = QS["sim_ann_lsh_multiprobe"].fn(spark, SF_DIR).collect()
    multi = {(r["q_id"], r["vec_id"]) for r in multi_rows}
    # Top-10 truncation can displace a single-probe hit only by a BETTER
    # candidate, so recall-vs-exact is the right monotonicity check.
    r_single = len(single & set(exact)) / max(len(exact), 1)
    r_multi = len(multi & set(exact)) / max(len(exact), 1)
    assert r_multi >= r_single, (r_multi, r_single)
    for r in multi_rows:
        key = (r["q_id"], r["vec_id"])
        if key in exact:
            assert abs(exact[key] - r["cos_sim"]) < 1e-9
    assert {r["q_id"] for r in multi_rows if r["q_id"] == r["vec_id"]} == {
        r["q_id"] for r in multi_rows
    }


def test_fan_out_widens_narrow_scans_and_memoizes(spark):
    """fan_out exists because a small compressed file arrives as fewer
    input splits than cores, serializing CPU-bound map work. Contract:
    (a) a narrow DataFrame is repartitioned up to defaultParallelism,
    (b) an already-wide DataFrame is returned untouched (no extra
    exchange on a real cluster reading many splits), and (c) repeat
    calls on the SAME input object return the memoized result without
    re-running the RDD-conversion probe."""
    from lagom_kinesis_spark.functions.helpers import fan_out

    cores = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, numPartitions=1)
    widened = fan_out(narrow)
    assert widened.rdd.getNumPartitions() == cores
    # values survive the round-robin repartition
    assert widened.count() == 1000

    wide = spark.range(0, 1000, 1, numPartitions=cores * 2)
    assert fan_out(wide) is wide

    # memoized: same input object -> same output object, no re-probe
    assert fan_out(narrow) is widened


def test_fan_out_min_bytes_gates_tiny_file_sources(spark, tmp_path):
    """With min_bytes set, a tiny file-backed scan keeps its no-shuffle
    plan (the exchange would cost more than it parallelizes), a source
    above the threshold fans out, and non-file sources count as large
    (on a real cluster the split-count check no-ops anyway)."""
    from lagom_kinesis_spark.functions.helpers import fan_out

    p = str(tmp_path / "tiny.parquet")
    spark.range(0, 100, 1, numPartitions=1).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert fan_out(tiny, min_bytes=2 << 20) is tiny

    tiny2 = spark.read.parquet(p)
    widened = fan_out(tiny2, min_bytes=1)
    assert widened is not tiny2
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    nonfile = spark.range(0, 100, 1, numPartitions=1)
    assert fan_out(nonfile, min_bytes=2 << 60) is not nonfile


def test_fan_out_by_key_doubles_as_aggregation_exchange(spark):
    """fan_out(by=k) hash-partitions on k, so a downstream groupBy whose
    keys CONTAIN k needs no second exchange — the fan-out shuffle IS the
    aggregation shuffle (HashPartitioning(k) satisfies the aggregate's
    ClusteredDistribution by the subset rule)."""
    import re

    from lagom_kinesis_spark.functions.helpers import fan_out

    narrow = spark.range(0, 1000, 1, numPartitions=1).withColumn(
        "tok", (F.col("id") % 7).cast("string")
    )
    agged = fan_out(narrow, by="id").groupBy("id", "tok").count()
    plan = agged._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert exchanges == ["hashpartitioning"], exchanges


def test_fan_out_filter_pushdown_and_shared_exchange(spark):
    """The text_tfidf shape at a scale where the gate opens: fan_out(by=
    doc_id) then filter then groupBy(doc_id, token). Two plan facts keep
    it honest at sf10: (a) Catalyst pushes the filter BELOW the fan-out
    exchange (only survivors are shuffled), (b) the keyed fan-out
    exchange doubles as the aggregation exchange (no second shuffle
    before the agg). min_bytes=1 forces the gate open on the test
    fixture so the asserted plan is the sf10 plan."""
    import re

    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.functions.helpers import fan_out
    from lagom_kinesis_spark.operators.text import tokens
    from tests.conftest import SF_DIR

    d = fan_out(load(spark, SF_DIR, "documents"), min_bytes=1, by="doc_id").filter(
        F.col("doc_id") % 50 == 0
    )
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .count()
    )
    plan = tf._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert exchanges == ["hashpartitioning"], exchanges
    # the filter evaluates below the exchange, inside the scan stage
    filter_pos = plan.index("(doc_id")  # the %50 predicate
    exchange_pos = plan.index("Exchange")
    assert filter_pos > exchange_pos, "filter not pushed below the fan-out"


def test_asof_join_null_payload_and_null_key_semantics(spark):
    """DuckDB ASOF parity on two edges the fixture never exercises:
    (a) the matching right row's NULL payload field must NOT be back-
    filled from an older right row (row integrity: the whole right row
    attaches, or nothing); (b) NULL equality keys never match — a NULL-
    keyed left row null-extends even when NULL-keyed right rows exist."""
    from lagom_kinesis_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 3), (None, 5)], "k string, ts int"
    )
    right = spark.createDataFrame(
        [("u", 1, "a", 10), ("u", 2, None, 20), (None, 3, "ghost", 30)],
        "k string, ts int, v string, w int",
    )
    out = {
        (r["k"], r["ts"]): (r["v"], r["w"])
        for r in asof_join(left, right, "ts", ["k"], ["v", "w"]).collect()
    }
    # ts=3 matches the ts=2 right row AS A WHOLE: v=NULL (not 'a'), w=20
    assert out[("u", 3)] == (None, 20)
    # NULL-keyed left row matches nothing despite a NULL-keyed right row
    assert out[(None, 5)] == (None, None)


def test_zero_norm_vectors_rank_last_not_first(spark):
    """A zero-norm embedding has no direction: its cosine must rank LAST
    (-inf), not first — NaN sorts above every double in Spark desc order
    and would win every top-k window."""
    from lagom_kinesis_spark.operators.similarity import (
        batch_topk_cosine,
        cosine_pandas,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.707, 0.707])],
        "vec_id long, embedding array<float>",
    )
    scored = df.select(
        "vec_id",
        cosine_pandas(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("c"),
    ).collect()
    by_id = {r["vec_id"]: r["c"] for r in scored}
    assert by_id[2] == float("-inf")

    import numpy as np

    rows = batch_topk_cosine(
        df, "vec_id", "embedding", [0], np.array([[1.0, 0.0]]), k=2
    ).collect()
    ranked = sorted(rows, key=lambda r: -r["cos_sim"])
    assert [r["vec_id"] for r in ranked][:2] == [1, 3]
    assert ranked[-1]["cos_sim"] == float("-inf")


def test_connected_components_rejects_zero_iterations(spark):
    from lagom_kinesis_spark.operators.components import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=0)


def test_split_leakage_audit_invariants(spark):
    """split_leakage_audit's structural contracts at the floor fixture:
    the per-CLUSTER assignment can never straddle (same cluster_id ⇒
    same hash ⇒ same split), clusters exist to audit, and the straddle
    count is bounded by the cluster count. Exact values are the driver
    oracle's job; these are the invariants that must hold at ANY
    fixture."""
    from lagom_kinesis_spark.registry import all_queries
    from tests.conftest import SF_DIR

    row = all_queries()["split_leakage_audit"].fn(spark, SF_DIR).collect()[0]
    assert row["n_straddle_per_cluster"] == 0
    assert row["n_clusters"] >= 1
    assert 0 <= row["n_straddle_per_doc"] <= row["n_clusters"]


def test_max_records_per_file_bounds_every_part_file(spark):
    """sink_parquet_max_records_per_file's file-count contract (not
    SQL-oracle-able): every part file must hold <= the cap, so the file
    count is >= ceil(rows/cap)."""
    import glob
    import math
    import os

    import pyarrow.parquet as pq

    from lagom_kinesis_spark.catalog import io_scratch, load
    from lagom_kinesis_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    all_queries()["sink_parquet_max_records_per_file"].fn(spark, sf).collect()
    tmp = io_scratch("orders_maxrec", sf, source="orders")
    files = glob.glob(os.path.join(tmp, "*.parquet"))
    n_rows = load(spark, sf, "orders").count()
    assert len(files) >= math.ceil(n_rows / 1000)
    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= 1000, f


def test_token_budget_allocation_sums_exactly_to_budget(spark):
    """Largest-remainder's whole point: per-source integer quotas sum to
    floor(total/2) EXACTLY (floor-only under-allocates, float rounding
    can over-allocate), and every quota stays within ±1 of its
    proportional share."""
    from pyspark.sql import functions as F

    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    out = all_queries()["mix_token_budget_allocation"].fn(spark, sf).collect()
    total = sum(r["tokens"] for r in out)
    budget = total // 2
    assert sum(r["quota"] for r in out) == budget
    for r in out:
        exact = budget * r["tokens"] / total
        assert exact - 1 < r["quota"] < exact + 1, (r, exact)


def test_temporal_split_partitions_every_event(spark):
    """The temporal split must be a PARTITION: train + eval event counts
    equal the table exactly (a boundary row falling out of both splits is
    the float-cutoff bug the integer-µs formulation exists to prevent)."""
    from lagom_kinesis_spark.catalog import load
    from lagom_kinesis_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    out = {
        r["split"]: r["n_events"]
        for r in all_queries()["sample_temporal_split"].fn(spark, sf).collect()
    }
    assert set(out) == {"train", "eval"}
    assert sum(out.values()) == load(spark, sf, "events").count()


def test_hybrid_rrf_fuses_both_arms_exactly(spark):
    """RRF's contract: every row's score is EXACTLY the sum of its arm
    contributions 1/(60+rank) (a candidate absent from an arm contributes
    0), ranks are dense 1..15 within each arm, and any doc in both arms
    outscores every single-arm doc of equal-or-worse ranks."""
    sf = "/root/testdata/sf0.01"
    rows = QS["sim_hybrid_rrf"].fn(spark, sf).collect()
    assert rows, "empty fusion"
    lex_ranks = sorted(r["r_lex"] for r in rows if r["r_lex"] is not None)
    den_ranks = sorted(r["r_dense"] for r in rows if r["r_dense"] is not None)
    assert lex_ranks == list(range(1, 16)), lex_ranks
    assert den_ranks == list(range(1, 16)), den_ranks
    for r in rows:
        want = (1.0 / (60 + r["r_lex"]) if r["r_lex"] is not None else 0.0) + (
            1.0 / (60 + r["r_dense"]) if r["r_dense"] is not None else 0.0
        )
        assert abs(r["rrf_score"] - want) < 1e-6, r
    both = [r for r in rows if r["r_lex"] is not None and r["r_dense"] is not None]
    single_best = max(
        (r["rrf_score"] for r in rows if r["r_lex"] is None or r["r_dense"] is None),
        default=0.0,
    )
    for r in both:
        assert r["rrf_score"] > single_best - 1e-9, (r, single_best)


def test_shingle_hash_proxy_is_injective_on_fixture(spark):
    """FIXTURE-TIME PRECONDITION for the r12 narrower-verify-payload cut:
    the LSH/prefix-filter verify joins (and the whole prefix-filter
    pipeline) ship xxhash64(shingle) instead of the shingle string, which
    preserves every set SIZE — and therefore every jac value and the
    exactly-verified pair set — iff the hash is injective on the fixture's
    shingle universe (collision odds ~n²/2^65: ~3e-9 even for 10^5
    distinct shingles). The driver regenerates fixtures between rounds, so
    assert injectivity directly: distinct shingle strings == distinct
    hashes, corpus-wide. If this ever fails after a regeneration, two
    shingles collided: switch the proxy to xxhash64(shingle, seed) with a
    bumped seed literal (any injective-on-fixture map works; the oracle
    hashes re-verify the outcome)."""
    from lagom_kinesis_spark.operators.text import shingles

    ex = (
        load(spark, SF_DIR, "documents")
        .select(F.explode(shingles(tokens("text"))).alias("t"))
    )
    n_str = ex.select("t").distinct().count()
    n_hash = ex.select(F.xxhash64("t").alias("h")).distinct().count()
    assert n_str == n_hash, (
        f"xxhash64 collision on fixture shingles: {n_str} strings -> "
        f"{n_hash} hashes; bump the proxy seed (see docstring)"
    )


def test_connected_components_iterations_plan_one_shuffle(spark, monkeypatch):
    """r12 (cont.): the per-iteration loop body must plan exactly ONE
    shuffle — the dst-side neighbor-min aggregation. The edges/labels
    join sides ride the checkpoint-preserved hash(src)/hash(id) layouts,
    so a second "Exchange hashpartitioning" in any iteration frame means
    the capture regressed (e.g. an alias snuck below a checkpoint, or
    AQE wrapped the capture) and every round re-shuffles the corpus.
    Broadcast is disabled for the assert so the SMJ co-partitioning is
    what's proven (with stats-driven broadcasts the shape is trivially
    one shuffle); results are asserted on a known two-component graph
    whose 5-chain forces multiple label-propagation rounds."""
    from lagom_kinesis_spark.operators.components import connected_components

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    captured: list[tuple[list[str], str]] = []
    real_lc = DataFrame.localCheckpoint

    def spy_lc(self, eager=True):
        captured.append(
            (
                list(self.columns),
                self._jdf.queryExecution().executedPlan().toString(),
            )
        )
        return real_lc(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy_lc)
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
            "id_a long, id_b long",
        )
        got = {
            (r.id, r.cluster_id)
            for r in connected_components(pairs).collect()
        }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}
    # the operator must restore the session's AQE setting on exit
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    iter_plans = [plan for cols, plan in captured if "chg" in cols]
    # the 5-chain needs several min-propagation rounds — the shape assert
    # must cover iterations AFTER the first (their labels come from the
    # in-loop checkpoint, a different capture path than the initial build)
    assert len(iter_plans) >= 2, f"expected >=2 iterations, saw {len(iter_plans)}"
    for plan in iter_plans:
        n_shuffles = plan.count("Exchange hashpartitioning")
        assert n_shuffles == 1, f"iteration planned {n_shuffles} shuffles:\n{plan}"
        assert "BroadcastExchange" not in plan


def test_connected_components_never_deadapts_caller_session(spark):
    """r13 (VERDICT r12 #3): the CC loop disables AQE on a CLONED session
    only — the r12 implementation flipped the SHARED session's conf for
    the loop's duration, silently de-adapting every concurrent query on
    the same SparkSession and letting two concurrent CC calls race the
    restore. Proof: a sampler thread reads the caller session's AQE conf
    AND plans a shuffle query on it WHILE a multi-round CC iterates; every
    sample must read adaptive. A 10-chain forces ~10 min-propagation
    rounds (min labels travel one hop per round), so the sampler gets many
    mid-loop shots; the sample-count assert guards against a trivially
    empty overlap."""
    import threading

    from lagom_kinesis_spark.operators.components import connected_components

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    conf_samples: list[str] = []
    plan_samples: list[bool] = []
    stop = threading.Event()

    def sampler() -> None:
        while not stop.is_set():
            conf_samples.append(spark.conf.get("spark.sql.adaptive.enabled"))
            probe = spark.range(1000).groupBy(
                (F.col("id") % 7).alias("k")
            ).count()
            plan_samples.append(
                "AdaptiveSparkPlan"
                in probe._jdf.queryExecution().executedPlan().toString()
            )

    t = threading.Thread(target=sampler, daemon=True)
    t.start()
    try:
        chain = [(i, i + 1) for i in range(1, 11)]  # 1-2-...-11: ~10 rounds
        pairs = spark.createDataFrame(chain, "id_a long, id_b long")
        got = {
            (r.id, r.cluster_id) for r in connected_components(pairs).collect()
        }
    finally:
        stop.set()
        t.join(timeout=30)
    assert got == {(i, 1) for i in range(1, 12)}
    assert len(conf_samples) >= 2, "sampler never overlapped the loop"
    assert all(v == "true" for v in conf_samples), conf_samples
    assert all(plan_samples), "a concurrent query planned non-adaptively"
    # caller conf untouched after, and the handoff views are cleaned up
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    leftover = [
        t.name
        for t in spark.catalog.listTables("global_temp")
        if t.name.startswith("cc_")
    ]
    assert leftover == [], leftover


def test_connected_components_reuses_one_loop_session(spark, monkeypatch):
    """Two CC calls on one caller session share one AQE-off loop session,
    so a long-lived driver does not accumulate sessions. The caller's
    partition count is re-mirrored into the shared clone on every call."""
    from pyspark.sql import SparkSession

    from lagom_kinesis_spark.operators import components

    clones: list[SparkSession] = []
    new_session = SparkSession.newSession
    monkeypatch.setattr(
        SparkSession, "newSession", lambda self: clones.append(self) or new_session(self)
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    want = [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    assert sorted(map(tuple, components.connected_components(pairs).collect())) == want
    loop = components._LOOP_SESSIONS[spark]
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "3"}):
        assert sorted(map(tuple, components.connected_components(pairs).collect())) == want
        assert loop.conf.get("spark.sql.shuffle.partitions") == "3"
    assert components._LOOP_SESSIONS[spark] is loop
    assert len(clones) <= 1  # 0 when an earlier test already made the clone
    assert loop.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
