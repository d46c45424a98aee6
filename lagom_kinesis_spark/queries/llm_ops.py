"""LLM-data-pipeline operators (driver mandate; SURVEY.md §2B last block):
deduplication, similarity search, text analysis, multimodal columns.

Oracle-matched exact variants establish correctness; the `*_lsh` /
`simhash` variants are the 100 TB scale paths (blocked candidate
generation — no global cartesian product), checked rows-only plus
containment tests in tests/test_operators.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import load
from lagom_kinesis_spark.functions import fan_out, r6
from lagom_kinesis_spark.operators import multimodal
from lagom_kinesis_spark.operators.similarity import (
    cosine,
    cosine_pandas,
    hyperplane_bucket,
    lsh_candidate_pairs,
    md5_sample_matrix,
    simhash_signatures,
)
from lagom_kinesis_spark.operators import sketches
from lagom_kinesis_spark.operators.text import (
    lang_guess_expr,
    STOPWORDS,
    bigrams,
    fingerprint,
    jaccard,
    shingle_hash_proxy,
    shingles,
    tokens,
    winnow_fingerprints,
)
from lagom_kinesis_spark.registry import register

#: fan_out size gate for the TOKENIZE-level text queries (tokens + explode +
#: count — moderately CPU-bound): below ~2 MB the round-robin exchange plus
#: 32-task scheduling loses to the serial scan (measured sf0.1, 0.6 MB:
#: +0.18 s/query with the fan-out; sf10, 6.3 MB: −1.4 s without it).
#: Shingle/hash-heavy sites (64 hashes/row) stay ungated — there the
#: fan-out pays even on tiny inputs. One constant so a re-measured
#: break-even point is re-tuned in one place.
TEXT_FAN_OUT_MIN_BYTES = 2 << 20

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep the smallest doc_id.
    At scale: one shuffle on the 128-bit hash — the canonical first pass of
    any training-data pipeline."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
             AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
    FROM documents GROUP BY fp
    """,
    tags=("llm", "dedup"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: md5 of the sorted distinct token set — catches
    token-order shuffles exact dedup misses; still one shuffle."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(fingerprint("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
    )


@register(
    "dedup_jaccard_pairs",
    oracle="""
    WITH sub AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
               i -> concat_ws(' ',
                    string_split(lower(text), ' ')[i],
                    string_split(lower(text), ' ')[i+1],
                    string_split(lower(text), ' ')[i+2])
             )) AS sh
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jac
    FROM sub a JOIN sub b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
          / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.3
    """,
    # "theta": the Spark side IS a deliberate sampled all-pairs theta
    # join (id_a < id_b) — the exactness oracle for the banded paths.
    # "oracle_quadratic" (r13): the oracle is the same deliberate O(n²)
    # all-pairs computation — correct at the sf0.01 gate, NOT a perf
    # baseline (DuckDB needs minutes at sf0.1, measured; bench.py marks
    # the row no-baseline like dedup_minhash_lsh). The row joins the
    # headline suite as the CORE-SCALING WITNESS: its 3.1M-pair
    # long-array compare is CPU-bound at sf0.1 (measured 4.3 s @32c vs
    # 12.2 s @8c — ratio 2.83, .bench/witness_scaling_r13.json), the
    # separation the driver's 8-vs-32 probe needs that every
    # floor-bound row lacks.
    tags=("llm", "dedup", "oracle_heavy", "theta", "oracle_quadratic"),
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs (≥0.3) over a 1/2 sample — the
    correctness oracle for near-dup detection. All-pairs is O(n²): only ever
    run on samples; the full-corpus path is dedup_minhash_lsh."""
    d = fan_out(load(spark, sf_dir, "documents")).filter(F.col("doc_id") % 2 == 0)
    # xxhash64 proxy (r13, guide §2.3): jac reads set sizes only, so the
    # theta join broadcasts/compares 8-byte longs instead of ~25-byte
    # shingle strings — same contract as the LSH verify sides (injectivity
    # pytest + escape hatch: operators/text.shingle_hash_proxy).
    sub = d.select(
        "doc_id", shingle_hash_proxy(shingles(tokens("text"))).alias("sh")
    )
    a = sub.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sub.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= 0.3)
        .select("id_a", "id_b", r6(F.col("jac")).alias("jac"))
    )


@register(
    "dedup_minhash_lsh",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sub AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2])
             )) AS sh
      FROM toks
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jac
    FROM sub a JOIN sub b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))
                / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) >= 0.8
    """,
    # oracle_quadratic: the oracle is a deliberate O(n²) all-pairs check —
    # correct at the sf0.01 gate, NOT a perf baseline (bench.py skips its
    # DuckDB timing; the Spark side is the banded sub-quadratic path).
    tags=("llm", "dedup", "scale", "oracle_quadratic"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection — the 100 TB path: 64 minhashes in
    16 bands of 4; candidates from band-bucket equi-joins (no cartesian
    product), then exact Jaccard verification (≥0.8) within candidates only.

    Oracle-checkable because the verify step is exact and the S-curve makes
    misses negligible at the 0.8 threshold (P(miss) = (1-j⁴)¹⁶ ≈ 2e-4 at
    j=0.8, ~1e-12 at j=0.95): on the frozen fixtures the LSH pair set
    deterministically equals the exact all-pairs set, which the oracle
    computes directly (O(n²) is oracle-side only; the Spark path stays
    banded). tests/test_operators.py additionally asserts recall."""
    d = fan_out(load(spark, sf_dir, "documents"))
    sh = d.select("doc_id", shingles(tokens("text")).alias("sh")).filter(
        F.size("sh") > 0
    )
    # The shingled relation feeds signature generation AND both sides of the
    # verification join: persist it so the (expensive) shingling runs once.
    # At cluster scale this would be a checkpoint to fast storage.
    sh = sh.persist()
    cands = lsh_candidate_pairs(sh, "doc_id", "sh", num_hashes=64, bands=16)
    # Verify sides carry xxhash64'd shingles, not the strings: jac is
    # computed from SET SIZES only (|a∩b|, |a∪b|), which any injective
    # map preserves, so the SMJ's sort + two exchanges move ~3x fewer
    # bytes (avg 3-gram shingle ≈25 framed bytes vs 8/int64). Verify
    # layer measured 1.389 s → 0.390 s at sf1 (250.6k pairs), pair set +
    # jac values bit-identical (exceptAll both ways = 0; oracle hashes
    # unchanged — .bench/ab_verify_hash_r12.json). Injectivity contract,
    # collision math and the seed-bump escape hatch live on the shared
    # helper (operators/text.shingle_hash_proxy). The SIGNATURE path
    # stays on strings — its hash family determines the candidate set
    # the oracle's exactness argument pins.
    hsh = shingle_hash_proxy(F.col("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), hsh.alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), hsh.alias("sh_b"))
    # merge-hint the shingle sides: they are CORPUS-sized, but a cached
    # frame's pre-materialization stats come from the tiny compressed
    # parquet scan, so Catalyst would pick BroadcastHashJoin and try to
    # build the exploded shingle arrays (~1 GB at sf10 — measured OOM of
    # the broadcast exchange, .bench/ab_lsh_cc_scale_r12.json r12) on one
    # executor. Big⋈big must shuffle.
    return (
        cands.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .withColumn("jac", r6(jaccard(F.col("sh_a"), F.col("sh_b"))))
        .filter(F.col("jac") >= 0.8)
        .select("id_a", "id_b", "jac")
    )


def _simhash_oracle() -> str:
    """DuckDB SQL reproducing the full SimHash pipeline bit-for-bit: the
    portable 60-bit md5 token hash (operators/similarity.portable_token_hash),
    per-bit ±1 sums, sign → signature, exact all-pairs Hamming ≤ 3. The
    oracle is O(n²) over signatures — oracle-side only; the Spark path is
    banded. Exactness (not approximation) holds because 4 bands over ≤3
    differing bits leave ≥1 band identical (pigeonhole) → recall is 1 by
    construction, so banded output == all-pairs output."""
    bsums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(60)
    )
    sig = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(60)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             list_sum(list_transform(range(1, 16),
               i -> (strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)::BIGINT
                    << (4 * (15 - i))))::BIGINT AS h
      FROM toks
    ), sums AS (
      SELECT doc_id,
             {bsums}
      FROM hashed GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, ({sig})::BIGINT AS sig FROM sums
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    tags=("llm", "dedup", "scale", "oracle_quadratic"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit portable signatures, banded into 4×15/16-bit
    keys for candidate generation (a pair within Hamming distance 3 shares
    ≥1 band — pigeonhole, so banding is lossless), verified by
    popcount(xor) ≤ 3. Signature computation is map-only; the oracle
    (_simhash_oracle) replays the identical hash/sign pipeline in SQL."""
    d = fan_out(load(spark, sf_dir, "documents"))
    sigs = simhash_signatures(d, "doc_id", tokens("text"))
    # One pass for all 4 band keys (explode, not union — a union would
    # recompute the signature aggregation per band per join side).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sig", b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_key"),
            )
            for b in range(4)
        ]
    )
    bands = (
        sigs.select("doc_id", "sig", F.explode(band_structs).alias("bb"))
        .select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key"))
        .persist()
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "band_key"
    )
    b_ = bands.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "band_key"
    )
    # merge-hint: both self-join sides are the CACHED corpus-sized band
    # frame (docs × 4 rows), whose stats the planner reads from the
    # compressed scan under it — at sf10 it plans a BroadcastHashJoin of
    # the whole frame (measured, r12 broadcast audit), which is an
    # inevitable OOM at real corpus scale. Same trap + fix as the
    # MinHash-LSH verify join.
    return (
        a.join(b_.hint("merge"), ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "sim_topk_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.q_id, e.vec_id,
                  round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cos_sim
           FROM q CROSS JOIN embeddings e
         )
    SELECT * FROM (
      SELECT q_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
    tags=("llm", "similarity"),
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 cosine neighbors for 5 query vectors.
    The query set (bounded, documented) is collected to a numpy matrix and
    broadcast into ONE mapInPandas matmul per Arrow batch with per-batch
    partial top-k (operators/similarity.batch_topk_cosine) — a map-only
    corpus scan; the final window ranks only the per-batch survivors.
    Ranking is on the *rounded* cosine (+ vec_id pin) so both engines rank
    identically. sim_ann_lsh / sim_ann_ivf are the indexed paths."""
    from lagom_kinesis_spark.operators.similarity import (
        batch_topk_cosine,
        embedding_query_panel,
    )

    e = load(spark, sf_dir, "embeddings")
    # |Q| = 5 — bounded panel, driver-side footer read (no Spark job; r9)
    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 5)
    scored = batch_topk_cosine(e, "vec_id", "embedding", q_ids, q_vecs, k=10)
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.select("q_id", "vec_id", r6(F.col("cos_sim")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )


def _srp_bucket_sql(num_planes: int, dim: int) -> str:
    """The SRP bucket word as a DuckDB expression over a DOUBLE[] column
    ``v``: ±1 hyperplanes regenerated from the same md5 derivation as
    operators/similarity.srp_signs and embedded as literals; projection
    rounded to 6 decimals BEFORE the sign test on both engines so
    summation-order ulps cannot flip a bit. Shared by the single- and
    multi-probe LSH oracles — one derivation, impossible to desync."""
    from lagom_kinesis_spark.operators.similarity import srp_signs

    signs = srp_signs(num_planes, dim)
    return " + ".join(
        "(CASE WHEN round(list_inner_product(v, ["
        + ", ".join(str(s) for s in signs[j])
        + f"]::DOUBLE[]), 6) > 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(num_planes)
    )


def _ann_lsh_oracle(num_planes: int = 12, dim: int = 64) -> str:
    """DuckDB SQL replaying SRP-LSH exactly: the bucket id is the shared
    _srp_bucket_sql sign-bit word, candidates are the same bucket
    equi-join, and the re-rank is the same rounded cosine."""
    bucket = _srp_bucket_sql(num_planes, dim)
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket}) AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, b.vec_id,
             round(list_cosine_similarity(q.qv, b.v), 6) AS cos_sim
      FROM q JOIN bucketed b USING (bucket)
    )
    SELECT * FROM (
      SELECT q_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_sim DESC, vec_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """


@register(
    "sim_ann_lsh",
    oracle=_ann_lsh_oracle(),
    tags=("llm", "similarity", "scale"),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection LSH: 12-bit buckets computed map-only
    from literal md5-derived hyperplanes, candidates = bucket equi-join,
    exact cosine re-rank within candidates. Recall vs the exact top-k is
    measured in tests/test_operators.py; the oracle (_ann_lsh_oracle)
    replays the identical bucket/join/re-rank pipeline in SQL."""
    e = load(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id", "embedding", hyperplane_bucket(F.col("embedding"), 64, 12).alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(bucketed, "bucket")
        .select(
            "q_id", "vec_id", r6(cosine_pandas(F.col("qv"), F.col("embedding"))).alias("cos_sim")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


def _ann_multiprobe_oracle(num_planes: int = 12, dim: int = 64) -> str:
    """DuckDB replay of multi-probe SRP-LSH: same literal hyperplanes and
    bucket word as _ann_lsh_oracle, but each query probes its exact bucket
    PLUS the `num_planes` single-bit-flip neighbors (xor with each power
    of two). No dedup is needed: the 13 probe values are pairwise
    distinct, so a corpus row (one bucket) joins at most one probe."""
    bucket = _srp_bucket_sql(num_planes, dim)
    flips = ", ".join(["0"] + [str(1 << j) for j in range(num_planes)])
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket}) AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id < 5
    ), probes AS (
      SELECT q_id, qv, xor(bucket, f) AS bucket
      FROM q, LATERAL unnest([{flips}]::BIGINT[]) AS t(f)
    ), scored AS (
      SELECT q.q_id, b.vec_id,
             round(list_cosine_similarity(q.qv, b.v), 6) AS cos_sim
      FROM probes q JOIN bucketed b USING (bucket)
    )
    SELECT * FROM (
      SELECT q_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_sim DESC, vec_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """


@register(
    "sim_ann_lsh_multiprobe",
    oracle=_ann_multiprobe_oracle(),
    tags=("llm", "similarity", "scale"),
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH (Lv et al., VLDB 2007): each query probes its
    own bucket plus the 12 Hamming-1 neighbors — the recall of ~13 hash
    tables for the index cost of ONE. The corpus is bucketed exactly once
    (map-only literal projections, same as sim_ann_lsh); only the 5-row
    query side fans out ×13, stays broadcast-sized, and equi-joins on the
    probe bucket. No candidate dedup is needed — the 13 probe values are
    pairwise distinct, so a corpus row (exactly one bucket) can join at
    most one probe — which keeps the plan at one broadcast join + the
    top-k window: at 100 TB the cost model is unchanged from single-probe
    LSH with strictly higher recall (tests/test_operators.py pins
    ≥ single-probe)."""
    e = load(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id",
        "embedding",
        hyperplane_bucket(F.col("embedding"), 64, 12).alias("bucket"),
    )
    q = bucketed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "bucket"
    )
    probes = q.select(
        "q_id",
        "qv",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(12)],
            )
        ).alias("bucket"),
    )
    cand = (
        F.broadcast(probes)
        .join(bucketed, "bucket")
        .select("q_id", "vec_id", "qv", "embedding")
    )
    scored = cand.select(
        "q_id",
        "vec_id",
        r6(cosine_pandas(F.col("qv"), F.col("embedding"))).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_top_tokens",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    ), counted AS (
      SELECT token, COUNT(*) AS n FROM toks GROUP BY token
    )
    SELECT * FROM (
      SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rn
      FROM counted
    ) WHERE rn <= 50
    """,
    tags=("llm", "text"),
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + word count, top-50. explode→groupBy is the scalable shape
    (partial aggregation collapses counts before the shuffle); the top-50 is
    taken with orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    never a global single-partition window over the whole vocabulary —
    asserted in tests/test_plans.py), then rn is derived over the 50
    survivors only."""
    # fan_out: compressed text packs ~500k sf10 docs into a 6 MB file =
    # 2 input splits, serializing the explode+partial-agg on 2 of 32
    # cores (measured r8 at sf10: 2.97 s -> 1.59 s with the fan-out).
    # Size-gated: tokenize+count is only moderately CPU-heavy, so below
    # ~2 MB the exchange costs more than it parallelizes (+0.18 s sf0.1).
    d = fan_out(load(spark, sf_dir, "documents"), min_bytes=TEXT_FAN_OUT_MIN_BYTES)
    counted = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    top = counted.orderBy(F.col("n").desc(), "token").limit(50)
    w = W.orderBy(F.col("n").desc(), "token")
    return top.withColumn("rn", F.row_number().over(w))


@register(
    "text_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    ), h AS (
      SELECT token, {sketches.portable_hash_sql("token")} AS h FROM toks
    ), cells AS (
      SELECT j, (h >> (10 * j)) & 1023 AS pos, COUNT(*) AS c
      FROM h CROSS JOIN (SELECT unnest(range(4)) AS j) js
      GROUP BY j, pos
    ), exact AS (
      SELECT token, COUNT(*) AS exact_cnt FROM toks
      GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 20
    ), qh AS (
      SELECT token, exact_cnt, {sketches.portable_hash_sql("token")} AS h FROM exact
    ), qp AS (
      SELECT token, exact_cnt, js.j, (h >> (10 * js.j)) & 1023 AS pos
      FROM qh CROSS JOIN (SELECT unnest(range(4)) AS j) js
    )
    SELECT token, exact_cnt, MIN(c) AS cms_est
    FROM qp JOIN cells USING (j, pos)
    GROUP BY token, exact_cnt
    """,
    tags=("llm", "text", "sketch"),
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the corpus's top-20 tokens — the
    fixed-memory token-frequency architecture at 100 TB: the d x w counter
    table (4096 exact int64 cells, operators/sketches.py) absorbs any
    token volume, merges across corpora by cell-wise sum, and answers
    point queries with a broadcast join. Because the cells are exact
    counts over the portable md5 hash's bit-slices, the whole sketch AND
    the min-over-rows estimates are bit-reproducible by the SQL oracle —
    which also pins the CMS overestimate guarantee (cms_est >= exact_cnt,
    asserted in tests/test_operators.py). The exact top-20 here is the
    query set; production would feed candidate keys from a stream."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("token"))
    counters = sketches.cms_counters(toks, F.col("token"))
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(20)
    )
    return sketches.cms_estimate(top, F.col("token"), counters)


@register(
    "text_bigrams",
    oracle="""
    WITH grams AS (
      SELECT lang,
             unnest(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')), 1)),
               i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                                   string_split(lower(text), ' ')[i+1])
             )) AS bigram
      FROM documents
    ), counted AS (
      SELECT lang, bigram, COUNT(*) AS n FROM grams GROUP BY lang, bigram
    )
    SELECT * FROM (
      SELECT lang, bigram, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
      FROM counted
    ) WHERE rn <= 5
    """,
    tags=("llm", "text"),
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts, top-5 per language (non-distinct n-grams)."""

    d = load(spark, sf_dir, "documents")
    grams = bigrams("text")
    counted = (
        d.select("lang", F.explode(grams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return counted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@register(
    "text_tfidf",
    oracle="""
    WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
         tf AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           FROM sub
         ),
         tfc AS (SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY doc_id, token),
         dfc AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tfc GROUP BY token),
         n AS (SELECT COUNT(*) AS n_docs FROM sub)
    SELECT tfc.doc_id, tfc.token,
           round(tfc.tf * ln(CAST(n.n_docs AS DOUBLE) / dfc.df), 6) AS tfidf
    FROM tfc JOIN dfc ON tfc.token = dfc.token CROSS JOIN n
    WHERE tfc.tf >= 2
    """,
    # "cross" acknowledges the deliberate 1-row broadcast N (sample size
    # folded into the plan; audit_plans exemption).
    tags=("llm", "text", "cross"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf over a 1/50 sample: tf per (doc, token), df via distinct-doc
    count, idf = ln(N/df).

    df is a window count over the tf relation (rows are unique per
    (doc, token), so COUNT(*) over the token partition IS the distinct-doc
    frequency): the tokenization/aggregation subtree is evaluated exactly
    once — the previous join formulation fed `tf` into both sides and
    Catalyst recomputed the explode→groupBy per side. At extreme corpus
    scale a head-token partition gets large; the swap then is tf →
    checkpoint → broadcast-join the aggregated df table (vocab-sized),
    trading a persist for the window."""
    # Fan out BY doc_id (on the shared load() object, so the memoized
    # partition probe hits): the tf groupBy's keys contain doc_id, so the
    # fan-out exchange doubles as the aggregation exchange (one shuffle,
    # not two). The %50 filter is pushed below the exchange by Catalyst,
    # so only survivors are shuffled — both facts plan-asserted in
    # tests/test_operators.py::test_fan_out_filter_pushdown_and_shared_exchange.
    d = fan_out(
        load(spark, sf_dir, "documents"), min_bytes=TEXT_FAN_OUT_MIN_BYTES, by="doc_id"
    ).filter(F.col("doc_id") % 50 == 0)
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # N (sample size) rides IN the plan as a broadcast 1-row aggregate
    # (cross join), not a driver-side .count(): the count was a whole
    # second Spark job per invocation — scan + schedule + collect — timed
    # at 0.12 s of the 0.66 s sf10 total. Folding it in is one extra
    # column-pruned scan leg under the same job (−27 % sf10, −29 % sf0.1,
    # A/B in BENCH_NOTES.md round-8 late). Counted on the UN-fanned scan:
    # a global count needs no parallel map work, and Catalyst does not
    # remove a user repartition under it.
    n = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    return (
        tf.withColumn("df", F.count("*").over(W.partitionBy("token")))
        .filter(F.col("tf") >= 2)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            r6(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )


@register(
    "text_lang_share",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           round(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share,
           round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
    FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def text_lang_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/source distribution with window share-of-total."""
    d = load(spark, sf_dir, "documents")
    agged = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("_chars")
    )
    return agged.select(
        "lang",
        "n_docs",
        r6(F.col("n_docs") / F.sum("n_docs").over(W.partitionBy())).alias("share"),
        r6(F.col("_chars").cast("double") / F.col("n_docs")).alias("avg_chars"),
    )


@register(
    "text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars, string_split(lower(text), ' ') AS toks
      FROM documents
    )
    SELECT doc_id, n_chars,
           len(toks) AS n_tokens,
           round(CAST(n_chars AS DOUBLE) / len(toks), 6) AS chars_per_token,
           round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6)
             AS type_token_ratio,
           round(len(list_filter(toks, x -> list_contains(['the','and','of','a','in','to'], x)))
                 / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio
    FROM t
    """,
    tags=("llm", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats, type/token ratio, stopword ratio —
    the standard cheap filters before expensive model-based scoring."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    sw = F.array([F.lit(s) for s in STOPWORDS])
    return d.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        r6(F.col("n_chars").cast("double") / F.size(toks)).alias("chars_per_token"),
        r6(F.size(F.array_distinct(toks)) / F.size(toks).cast("double")).alias(
            "type_token_ratio"
        ),
        r6(
            F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
            / F.size(toks).cast("double")
        ).alias("stopword_ratio"),
    )


@register(
    "text_langid",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
    SELECT doc_id,
           CASE WHEN len(list_intersect(toks, ['the','and','of'])) > 0 THEN 'en'
                WHEN len(list_intersect(toks, ['der','und','nicht'])) > 0 THEN 'de'
                WHEN len(list_intersect(toks, ['el','la','que'])) > 0 THEN 'es'
                WHEN len(list_intersect(toks, ['le','et','les'])) > 0 THEN 'fr'
                ELSE 'und' END AS lang_guess
    FROM t
    """,
    tags=("llm", "text"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (deterministic CASE cascade)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", lang_guess_expr(tokens("text")).alias("lang_guess"))


@register(
    "text_token_count_regex",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS n_word_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
    """,
    tags=("llm", "text"),
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace vs BPE-ish regex segmentation."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)")).alias(
            "n_word_tokens"
        ),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'text' END AS modality,
           CAST(n_chars % 640 AS INT) AS width
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata columns (the Spark-side plumbing;
    metadata predicates prune before any decode touches bytes)."""
    blobs = multimodal.attach_payload(load(spark, sf_dir, "documents"))
    return blobs.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.modality").alias("modality"),
        F.col("meta.width").alias("width"),
    )


@register(
    "multimodal_decode_features",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'text' END AS modality,
             encode(text) AS payload,
             CAST(n_chars % 640 AS INT) AS width,
             CAST(n_chars % 480 AS INT) AS height
      FROM documents
    ), byte_stats AS (
      SELECT doc_id,
             octet_length(payload) AS n_bytes,
             list_sum(list_transform(range(1, octet_length(payload) + 1),
               i -> (strpos('0123456789ABCDEF', substr(hex(payload), 2*i-1, 1)) - 1) * 16
                    + strpos('0123456789ABCDEF', substr(hex(payload), 2*i, 1)) - 1
             )) AS byte_sum
      FROM b
    )
    SELECT b.doc_id, b.modality, s.n_bytes,
           round(CASE WHEN s.n_bytes = 0 THEN 0.0
                      ELSE s.byte_sum / CAST(s.n_bytes AS DOUBLE) END, 6)
             AS byte_mean,
           b.width, b.height
    FROM b JOIN byte_stats s ON b.doc_id = s.doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode/feature-extract (stubbed decoder,
    real plumbing — schema, batching, partition parallelism). The stub's
    byte-statistics fake is deterministic, so the oracle replays it in SQL:
    UTF-8 payload byte values recovered via hex-digit folding, mean rounded
    half-up on both engines (helpers.r6 ≡ DuckDB round)."""
    blobs = multimodal.attach_payload(load(spark, sf_dir, "documents"))
    return multimodal.decode_features(blobs).withColumn(
        "byte_mean", r6(F.col("byte_mean"))
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding::DOUBLE[] AS v
                 FROM embeddings WHERE vec_id % 10 = 0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    """,
    # "theta": deliberate sampled all-pairs (id_a < id_b) verify step.
    tags=("llm", "dedup", "similarity", "oracle_heavy", "theta"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (mandate row): exact pairwise over a
    1/10 sample with the threshold applied to the ROUNDED cosine on both
    engines (no boundary flips). JVM higher-order cosine: for join-produced
    PAIRS the per-row zip_with/aggregate beats the Arrow round-trip
    (measured ~1.4×); the bulk corpus-scan path (sim_topk_cosine) stays on
    the batched numpy matmul. The full-corpus path is the same verify step
    fed by sim_ann_lsh-style bucket candidates instead of all pairs."""
    e = fan_out(load(spark, sf_dir, "embeddings")).filter(F.col("vec_id") % 10 == 0)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", r6(cosine(F.col("va"), F.col("vb"))))
        .filter(F.col("cos_sim") >= 0.25)
        .select("id_a", "id_b", "cos_sim")
    )


@register(
    "dedup_keep_best",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(
               list_sort(list_distinct(string_split(lower(text), ' '))), ' '
             )) AS group_key
      FROM documents
    ), ranked AS (
      SELECT group_key, doc_id, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY group_key
               ORDER BY n_chars DESC, doc_id) AS INT) AS rk,
             COUNT(*) OVER (PARTITION BY group_key) AS n_members
      FROM keyed
    )
    SELECT group_key, CAST(n_members AS BIGINT) AS n_members,
           doc_id AS survivor_doc_id, n_chars AS survivor_n_chars
    FROM ranked WHERE rk = 1 AND n_members >= 2
    """,
    tags=("llm", "dedup"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy for dedup groups — production dedup does NOT
    keep an arbitrary (min-id) member: it keeps the BEST one (the
    Gopher-style 'richest document wins' rule). Groups here are
    bag-of-words duplicates (md5 of the sorted distinct token set — same
    vocabulary, any order/repetition); the survivor is the member with
    max n_chars, ties to the lowest doc_id. Output: every multi-member
    group with its survivor — exactly the keep-list a curation pipeline
    feeds downstream (swap the group key for MinHash cluster ids or the
    connected-components labels and the same window applies unchanged).

    Scale: the group key is a map-side projection; one shuffle on
    group_key drives both the rank and the member count in a single
    window pass; output is group-cardinality-sized."""
    d = fan_out(load(spark, sf_dir, "documents"))
    keyed = d.select(
        "doc_id", "n_chars", fingerprint("text").alias("group_key")
    )
    w = W.partitionBy("group_key").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = keyed.select(
        "group_key",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy("group_key")).alias("n_members"),
    )
    return (
        ranked.filter((F.col("rk") == 1) & (F.col("n_members") >= 2))
        .select(
            "group_key",
            "n_members",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_chars").alias("survivor_n_chars"),
        )
    )


@register(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH sub AS (
      SELECT doc_id, lower(text) AS lt,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
               i -> concat_ws(' ',
                    string_split(lower(text), ' ')[i],
                    string_split(lower(text), ' ')[i+1],
                    string_split(lower(text), ' ')[i+2])
             )) AS sh
      FROM documents
    ), ranked AS (
      SELECT doc_id, sh, substr(lt, 1, 2) AS blk,
             ROW_NUMBER() OVER (PARTITION BY substr(lt, 1, 2)
                                ORDER BY substr(lt, 1, 40), doc_id) AS rn
      FROM sub
    ), cand AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.sh AS sa, b.sh AS sb
      FROM ranked a JOIN ranked b
        ON a.blk = b.blk AND b.rn - a.rn IN (1, 2)
    )
    SELECT least(da, db) AS id_a, greatest(da, db) AS id_b,
           round(len(list_intersect(sa, sb))
                 / CAST(len(list_distinct(sa || sb)) AS DOUBLE), 6) AS jac
    FROM cand
    WHERE round(len(list_intersect(sa, sb))
                / CAST(len(list_distinct(sa || sb)) AS DOUBLE), 6) >= 0.3
    """,
    tags=("llm", "dedup"),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (Hernández–Stolfo) near-dup blocking — the
    third blocking family next to hash buckets (MinHash-LSH) and prefix
    filtering: sort by a content key (first 40 chars), compare each record
    only against its ±2 rank neighbors, verify with exact shingle Jaccard
    (≥ 0.3). Near-identical texts sort adjacent, so a window of w
    neighbors finds them with O(n·w) comparisons instead of O(n²).

    This is the BLOCKED variant (2-char prefix blocks), which is what
    scales: ranks come from a per-block window — Spark plans one exchange
    on blk and sorts within partitions, never a global single-partition
    sort — and the neighbor join is an equi-join on (blk, rank+δ),
    δ∈{1,2}, made equi by exploding δ. The verify step reuses the exact
    dedup_jaccard_pairs discipline (round-6 both engines)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    # xxhash64 proxy (r13, guide §2.3): the shingle arrays ride the blk
    # window exchange AND both neighbor-join sides; jac reads set sizes
    # only, so 8-byte longs replace ~25-byte strings through both
    # (injectivity pytest + escape hatch: operators/text.shingle_hash_proxy).
    base = d.select(
        "doc_id",
        shingle_hash_proxy(shingles(tokens("text"))).alias("sh"),
        F.substring(F.lower("text"), 1, 40).alias("k"),
        F.substring(F.lower("text"), 1, 2).alias("blk"),
    )
    ranked = base.withColumn(
        "rn", F.row_number().over(W.partitionBy("blk").orderBy("k", "doc_id"))
    )
    a = ranked.select(
        "blk",
        F.col("rn").alias("rn_a"),
        F.col("doc_id").alias("da"),
        F.col("sh").alias("sa"),
    )
    b = ranked.select(
        "blk",
        F.col("rn").alias("rn_b"),
        F.col("doc_id").alias("db"),
        F.col("sh").alias("sb"),
    )
    cand = (
        a.withColumn("delta", F.explode(F.array(F.lit(1), F.lit(2))))
        .withColumn("rn_b", F.col("rn_a") + F.col("delta"))
        .join(b, ["blk", "rn_b"])
    )
    jac = r6(jaccard(F.col("sa"), F.col("sb")))
    return (
        cand.withColumn("jac", jac)
        .filter(F.col("jac") >= 0.3)
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "jac",
        )
    )


@register(
    "dedup_semantic_semdedup",
    oracle="""
    WITH cent AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS INT) - 1 AS cid, cv
      FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
                   embedding::DOUBLE[] AS cv
            FROM embeddings ORDER BY h, vec_id LIMIT 8)
    ), corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cid AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cid) AS arn
        FROM corpus e CROSS JOIN cent c
      ) WHERE arn = 1
    ), dup AS (
      SELECT DISTINCT b.cluster, b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    )
    SELECT s.cluster, COUNT(*) AS n_vectors,
           COUNT(d.vec_id) AS n_dups,
           round(COUNT(d.vec_id) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_share
    FROM assigned s LEFT JOIN dup d
      ON s.cluster = d.cluster AND s.vec_id = d.vec_id
    GROUP BY s.cluster
    """,
    tags=("llm", "dedup", "similarity", "scale"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space with a coarse quantizer, then find
    near-duplicate pairs ONLY within each cluster — the scale answer to
    ``dedup_embedding_cosine``'s global all-pairs, which no 100 TB corpus
    can afford. A vector is a duplicate iff a lower-id vector in the SAME
    cluster has rounded cosine ≥ 0.35; the lowest id stays as the cluster's
    representative. Output: per-cluster vector/dup counts + dup share.

    The quantizer is the IVF discipline (sim_ann_ivf): 8 md5-ordered
    data-sampled centroids (model-sized driver collect), round-6 argmax
    assignment with ties to the lowest cid — fully SQL-replayable, so the
    whole pipeline hash-matches the DuckDB oracle. Scale shape: assignment
    is one Arrow-batched map-only scoring pass; the quadratic is confined
    to cluster-id equi-join buckets (n²/k per cluster vs n² global — with
    real KMeans centroids, cluster sizes are capacity-bounded); the rollup
    is a two-level aggregate on cluster id."""

    from lagom_kinesis_spark.operators.similarity import centroid_rank

    e = fan_out(load(spark, sf_dir, "embeddings"))
    C = md5_sample_matrix(e, 8)  # 8 × dim — model-sized driver-safe collect
    # Assignment scores every vector once; persist so the pairs join's two
    # sides and the final rollup don't re-run the Arrow scoring pass.
    assigned = e.select(
        "vec_id", "embedding", centroid_rank(C)[0]["cid"].alias("cluster")
    ).persist()
    # Within-cluster pairing must SHUFFLE on cluster id, never broadcast:
    # both sides are the CACHED corpus of (vec_id, embedding, cluster),
    # and embedding arrays make the true size ~100× the planner's
    # compressed-scan estimate — at sf10 the unhinted plan broadcast the
    # whole frame (measured, r12 broadcast audit; OOM class at scale).
    # But a bare shuffle on `cluster` caps parallelism at k (8 here):
    # measured 121 s at sf1 vs ~30 s broadcast (r13 re-measure of the
    # r12 finding). The r12 answer — a 1-D salt (cluster, id_a % R),
    # R = partitions//k — was measured this round LOSING 2× at sf1
    # (62-67 s vs ~30 s broadcast, `.bench/ab_semdedup_scale_r13.json`):
    # k×R = exactly |partitions| distinct keys HASH into the partitions,
    # and balls-in-bins leaves ~1/e of them empty with 2-3 keys piled on
    # others (guide §2.5 "synthetic keys with too few distinct values"),
    # while the b side pays R× replication for it. r13 fix: a 2-D BLOCK
    # salt — a-side carries fixed bi = id_a % m and explodes bj over
    # 0..m-1, b-side fixed bj = id_b % m and explodes bi; join on
    # (cluster, bi, bj). Every (a, b) pair meets exactly once, at block
    # (id_a % m, id_b % m), for ANY m ≥ 1; keys grow QUADRATICALLY
    # (k·m²) while replication grows linearly (m per side) — the
    # balls-in-bins oversubscription the 1-D salt can't afford
    # (R=64 ⇒ 64× one side for the same 512 keys m=8 buys at 8×+8×).
    # Measured sf1 gradient (fresh process per run, interleaved):
    # 1-D R=4 62.0 s / R=16 50.1 s / R=64 33.1 s; 2-D m=8 38.1 s /
    # m=16 32.5 s vs broadcast 26.5 s — the residual ~20 % is the
    # exchange+SMJ machinery the scale-correct plan must pay. m adapts:
    # ceil(sqrt(64·partitions / k)) targets ~64 keys/partition and
    # degrades to m=1 (zero replication) once k ≥ 64×partitions — which
    # a production capacity-bounded quantizer (k ~ 10⁴-10⁵ ≫ cores)
    # always satisfies. Pinning the join INPUTS with explicit numbered
    # repartitions still defeats AQE's byte-based coalescing (the pair
    # stage is CPU-heavy HOF work over tiny bytes — AQE would squash it
    # to 1-2 partitions, the r12 finding).
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    k = 8  # centroids (md5_sample_matrix above)
    m = max(1, math.ceil(math.sqrt(64 * n_parts / k)))
    blocks = F.array(*[F.lit(i) for i in range(m)])
    a = (
        assigned.select(
            "cluster",
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            (F.col("vec_id") % m).alias("bi"),
        )
        .withColumn("bj", F.explode(blocks))
        .repartition(n_parts, "cluster", "bi", "bj")
    )
    b = (
        assigned.select(
            "cluster",
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"),
            (F.col("vec_id") % m).alias("bj"),
        )
        .withColumn("bi", F.explode(blocks))
        .repartition(n_parts, "cluster", "bi", "bj")
    )
    dups = (
        a.join(b.hint("merge"), ["cluster", "bi", "bj"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(r6(cosine(F.col("va"), F.col("vb"))) >= 0.35)
        .select("cluster", F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assigned.join(dups, ["cluster", "vec_id"], "left")
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count("is_dup").alias("n_dups"),
            r6(F.count("is_dup") / F.count("*").cast("double")).alias(
                "dup_share"
            ),
        )
    )


def _ann_ivf_ctes(k_lists: int = 8, n_probe: int = 2) -> str:
    """Shared WITH-body replaying the IVF pipeline in DuckDB (used by the
    sim_ann_ivf oracle and the recall audit): md5-ordered centroid
    sample, round-6 argmax list assignment, n_probe nearest lists per
    query, rounded-cosine scoring within probed lists."""
    return f"""cent AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS INT) - 1 AS cid, cv
      FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
                   embedding::DOUBLE[] AS cv
            FROM embeddings ORDER BY h, vec_id LIMIT {k_lists})
    ), corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, v, cluster FROM (
        SELECT e.vec_id, e.v, c.cid AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cid) AS arn
        FROM corpus e CROSS JOIN cent c
      ) WHERE arn = 1
    ), probes AS (
      SELECT q_id, qv, cluster FROM (
        SELECT e.vec_id AS q_id, e.v AS qv, c.cid AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                          c.cid) AS prn
        FROM (SELECT vec_id, v FROM corpus WHERE vec_id < 5) e
        CROSS JOIN cent c
      ) WHERE prn <= {n_probe}
    ), scored AS (
      SELECT p.q_id, a.vec_id,
             round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
      FROM probes p JOIN assigned a USING (cluster)
    )"""


def _ann_ivf_oracle(k_lists: int = 8, n_probe: int = 2, k: int = 10) -> str:
    """DuckDB SQL replaying the IVF pipeline exactly (see _ann_ivf_ctes);
    fully SQL-expressible because the quantizer is a deterministic data
    sample, not a trained model."""
    return f"""
    WITH {_ann_ivf_ctes(k_lists, n_probe)}
    SELECT * FROM (
      SELECT q_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos_sim DESC, vec_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@register(
    "sim_ann_ivf",
    oracle=_ann_ivf_oracle(),
    tags=("llm", "similarity", "scale"),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (operators/similarity.ivf_topk): coarse quantizer →
    inverted lists (per-vector nearest-centroid assignment, one map-only
    Arrow-batched scoring pass) → queries probe their 2 nearest lists →
    exact cosine re-rank within probed lists only.

    The quantizer here is 8 DATA-SAMPLED centroids chosen by md5 order —
    deterministic and engine-reproducible, the same discipline that makes
    sim_ann_lsh's hyperplanes exactly oracle-checkable — so the whole
    pipeline replays in SQL (_ann_ivf_oracle) and the driver can
    hash-match it. A KMeans-trained quantizer drops into the identical
    pipeline unchanged (tests/test_operators.py::
    test_ivf_kmeans_quantizer_same_pipeline proves it); only the centroid
    matrix differs, never the plan shape. Scale: centroids are model-sized
    (broadcast in the closure), candidates come from a cluster-id
    equi-join — never all pairs."""
    from lagom_kinesis_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings")
    C = md5_sample_matrix(e, 8)  # 8 × dim — model-sized driver-safe collect
    return ivf_topk(e, C, F.col("vec_id") < 5, k=10, n_probe=2)


def _jaccard_cluster_ctes(threshold: float) -> str:
    """Recursive transitive-closure CTE chain deriving near-dup clusters
    (exact Jaccard ≥ ``threshold`` over the doc_id % 2 sample): documents →
    `walk` (node, reachable-label). Shared by dedup_clusters,
    split_leakage_audit and dedup_clusters_lsh so the oracles can never
    desync on the cluster derivation."""
    return f"""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE doc_id % 2 = 0
    ),
    sub AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2])
             )) AS sh
      FROM toks
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sub a JOIN sub b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))
            / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= {threshold}
    ),
    edges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT id_a AS id FROM edges),
    walk AS (
      SELECT id, id AS label FROM nodes
      UNION
      SELECT e.id_b AS id, w.label FROM walk w JOIN edges e ON w.id = e.id_a
    )"""


_JACCARD_CLUSTER_CTES = _jaccard_cluster_ctes(0.3)


@register(
    "dedup_clusters",
    oracle=_JACCARD_CLUSTER_CTES + """
    SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id
    """,
    tags=("llm", "dedup", "iterative", "oracle_heavy"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: exact Jaccard pairs (≥0.3, sampled) →
    connected components (operators/components.py, iterative min-label
    propagation) → (doc_id, cluster_id). Oracle: DuckDB recursive CTE
    transitive closure. The full-scale variant feeds dedup_minhash_lsh
    pairs into the same component operator."""
    from lagom_kinesis_spark.operators.components import connected_components

    d = fan_out(load(spark, sf_dir, "documents")).filter(F.col("doc_id") % 2 == 0)
    # xxhash64 proxy (r13, guide §2.3): the pair filter reads set sizes
    # only — long arrays through the theta join, same contract as
    # dedup_jaccard_pairs (operators/text.shingle_hash_proxy).
    sub = d.select(
        "doc_id", shingle_hash_proxy(shingles(tokens("text"))).alias("sh")
    )
    a = sub.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sub.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.3)
        .select("id_a", "id_b")
    )
    return connected_components(pairs).withColumnRenamed("id", "doc_id")


def lsh_verified_pairs(sub: DataFrame, threshold: float) -> DataFrame:
    """The 100 TB near-dup pair arm, factored so tests/test_plans.py can
    assert its plan in isolation: banded MinHash-LSH candidates (64 hashes,
    16 bands — equi-joins on band keys, never all pairs) → exact-Jaccard
    verification WITHIN candidates only. ``sub`` is (doc_id, sh) with
    non-empty shingle arrays. Returns distinct (id_a, id_b) with id_a<id_b.
    Plan property (asserted): no CartesianProduct / BroadcastNestedLoopJoin
    anywhere — every join is an equi-join, so the arm scales as
    O(candidates), not O(n²)."""
    cands = lsh_candidate_pairs(sub, "doc_id", "sh", num_hashes=64, bands=16)
    # xxhash64'd verify payloads — same narrower-types cut as
    # dedup_minhash_lsh (jaccard reads set sizes only, invariant under an
    # injective map; measured −72% verify-layer at sf1, outputs
    # bit-identical — .bench/ab_verify_hash_r12.json; contract + escape
    # hatch: operators/text.shingle_hash_proxy).
    hsh = shingle_hash_proxy(F.col("sh"))
    a = sub.select(F.col("doc_id").alias("id_a"), hsh.alias("sh_a"))
    b = sub.select(F.col("doc_id").alias("id_b"), hsh.alias("sh_b"))
    # merge-hint (SMJ) the shingle sides — same reason as dedup_minhash_lsh:
    # cached-frame stats underestimate the exploded shingle arrays and a
    # static BroadcastHashJoin OOMs at sf10 (measured, r12 scale probe).
    return (
        cands.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold)
        .select("id_a", "id_b")
    )


@register(
    "dedup_clusters_lsh",
    oracle=_jaccard_cluster_ctes(0.8) + """
    , comp AS (
      SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id
    )
    SELECT cluster_id,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_docs_lsh_agree,
           COUNT(DISTINCT cluster_id) AS n_lsh_clusters
    FROM comp GROUP BY cluster_id
    """,
    tags=("llm", "dedup", "iterative", "oracle_heavy"),
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition dedup_clusters' docstring promises, registered and
    agreement-audited in ONE plan (the sim_ann_recall_audit pattern):

      LSH arm (full-scale path): lsh_verified_pairs — banded candidates →
        exact-Jaccard verify (≥0.8) → the SAME connected_components
        operator → (doc_id, cluster_lsh).
      Exact arm (sampled comparison): all-pairs Jaccard ≥0.8 over the
        doc_id%2 sample → connected_components → (doc_id, cluster_id).

    Rollup per EXACT cluster: member count, members the LSH arm placed in
    the same (min-label) cluster, and distinct LSH cluster ids among them.
    Both arms share one universe and min-label ids, so full agreement means
    byte-identical assignments. The oracle computes the exact closure once
    and emits the full-agreement rollup — valid because at j≥0.8 the
    16-band/4-row S-curve makes LSH misses negligible (P(miss) = (1-j⁴)¹⁶
    ≈ 2e-4 at j=0.8) and the frozen fixture's pair set is deterministic, so
    ANY Spark-side LSH miss or spurious merge breaks the hash (same
    exactness argument as dedup_minhash_lsh's oracle).

    Scale: only the LSH arm survives a 100 TB run (the exact arm is the
    sampled audit, same role as sim_ann_recall_audit's brute-force arm);
    tests/test_plans.py asserts the LSH arm has no CartesianProduct /
    nested-loop join. Reference parity: the reference has no dedup surface
    at all (transport shim) — this row is mandate coverage."""
    from lagom_kinesis_spark.operators.components import connected_components

    d = fan_out(load(spark, sf_dir, "documents")).filter(F.col("doc_id") % 2 == 0)
    # Shingles feed signature generation AND both verify-join sides of BOTH
    # arms: persist so the expensive shingling runs once per doc.
    sub = (
        d.select("doc_id", shingles(tokens("text")).alias("sh"))
        .filter(F.size("sh") > 0)
        .persist()
    )
    lsh_clusters = connected_components(lsh_verified_pairs(sub, 0.8)).select(
        F.col("id").alias("doc_id"), F.col("cluster_id").alias("cluster_lsh")
    )
    # Exact arm compares on the xxhash64 proxy (r13, guide §2.3 — set
    # sizes only); ``sub`` itself stays on shingle STRINGS because the LSH
    # arm's signature generation above must hash the strings
    # (operators/text.shingle_hash_proxy docstring).
    hsh = shingle_hash_proxy(F.col("sh"))
    a = sub.select(F.col("doc_id").alias("id_a"), hsh.alias("sh_a"))
    b = sub.select(F.col("doc_id").alias("id_b"), hsh.alias("sh_b"))
    exact_pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.8)
        .select("id_a", "id_b")
    )
    exact = connected_components(exact_pairs).withColumnRenamed("id", "doc_id")
    return (
        exact.join(lsh_clusters, "doc_id", "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("cluster_lsh") == F.col("cluster_id"), 1)
            ).alias("n_docs_lsh_agree"),
            F.countDistinct("cluster_lsh").alias("n_lsh_clusters"),
        )
    )


@register(
    "split_leakage_audit",
    oracle=_JACCARD_CLUSTER_CTES + """
    , comp AS (
      SELECT id AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY id
    ), marked AS (
      SELECT cluster_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split_doc,
             CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split_cluster
      FROM comp
    ), per AS (
      SELECT cluster_id,
             COUNT(DISTINCT split_doc) AS nd,
             COUNT(DISTINCT split_cluster) AS nc
      FROM marked GROUP BY cluster_id
    )
    SELECT COUNT(*) AS n_clusters,
           COUNT(*) FILTER (WHERE nd > 1) AS n_straddle_per_doc,
           COUNT(*) FILTER (WHERE nc > 1) AS n_straddle_per_cluster
    FROM per
    """,
    tags=("llm", "pipeline", "sample", "dedup", "oracle_heavy"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split assignment, audited: a per-DOCUMENT train/val/
    test split (split_train_val_test's md5(doc_id) rule) puts members of
    the same near-dup cluster on both sides of the train/eval boundary —
    the eval set then contains near-copies of training documents and the
    benchmark is contaminated from the inside, the failure
    decontaminate_* guards against for EXTERNAL benchmarks. The fix is
    to assign by CLUSTER: hash the cluster id, move all members
    together. This row computes the near-dup clusters (dedup_clusters'
    exact-Jaccard components, same derivation) and audits BOTH
    assignments in one pass: n_straddle_per_doc > 0 is the leak the
    naive rule admits on this very fixture; n_straddle_per_cluster = 0
    is structural (same cluster_id ⇒ same hash ⇒ same split), and the
    oracle hash-match proves it rather than asserts it.

    Scale: clusters come from the component op (bounded iterative
    min-label propagation over the pair graph); the audit itself is one
    |clusters|-cardinality aggregate — the expensive part is the pair
    derivation every serious dedup pipeline already pays, and the
    full-scale variant swaps in dedup_minhash_lsh's banded pairs
    unchanged."""
    comp = dedup_clusters(spark, sf_dir)

    def md5_split(col):
        b = F.substring(F.md5(col.cast("string")), 1, 2)
        return F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")

    per = (
        comp.select(
            "cluster_id",
            md5_split(F.col("doc_id")).alias("split_doc"),
            md5_split(F.col("cluster_id")).alias("split_cluster"),
        )
        .groupBy("cluster_id")
        .agg(
            F.countDistinct("split_doc").alias("nd"),
            F.countDistinct("split_cluster").alias("nc"),
        )
    )
    return per.agg(
        F.count("*").alias("n_clusters"),
        F.count_if(F.col("nd") > 1).alias("n_straddle_per_doc"),
        F.count_if(F.col("nc") > 1).alias("n_straddle_per_cluster"),
    )


@register(
    "pipeline_corpus_filter",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text, n_chars,
             string_split(lower(text), ' ') AS toks,
             md5(text) AS h
      FROM documents
    ), filtered AS (
      SELECT doc_id, h,
             CASE WHEN len(list_intersect(toks, ['the','and','of'])) > 0 THEN 'en'
                  WHEN len(list_intersect(toks, ['der','und','nicht'])) > 0 THEN 'de'
                  WHEN len(list_intersect(toks, ['el','la','que'])) > 0 THEN 'es'
                  WHEN len(list_intersect(toks, ['le','et','les'])) > 0 THEN 'fr'
                  ELSE 'und' END AS lang_guess,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS ttr
      FROM scored
      WHERE len(toks) >= 20
        AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) >= 0.2
    ), deduped AS (
      SELECT MIN(doc_id) AS doc_id, h FROM filtered GROUP BY h
    )
    SELECT f.lang_guess, COUNT(*) AS n_docs,
           round(CAST(SUM(f.n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
           round(AVG(f.ttr), 6) AS avg_ttr
    FROM deduped d JOIN filtered f ON d.doc_id = f.doc_id
    GROUP BY f.lang_guess
    """,
    tags=("llm", "pipeline"),
)
def pipeline_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus filter pipeline: quality gate (length +
    type/token ratio) → language-ID → exact dedup (keep first) → per-lang
    corpus stats. One composed DataFrame plan: Catalyst fuses the gates
    into the scan, dedup is one shuffle, stats one more — the whole
    pipeline is 2 shuffles regardless of corpus size.

    Keep-first dedup is a window-min over the content hash, NOT a
    min(doc_id) aggregate re-joined to the scored stream: the self-join
    form evaluates the scoring pipeline (tokenize + array_distinct +
    language markers) TWICE — measured 13.9 s vs 8.7 s at sf10
    (BENCH_NOTES.md round-7; .bench/ab_corpus_filter_window.py @ 5678885)."""

    # fan_out: the scoring map (tokenize + array_distinct + markers) is
    # CPU-bound and the compressed source yields 2 splits at sf10.
    # Size-gated (2 MB): at sf0.1 the exchange costs more than it buys.
    d = fan_out(load(spark, sf_dir, "documents"), min_bytes=TEXT_FAN_OUT_MIN_BYTES)
    toks = tokens("text")
    langexpr = lang_guess_expr(F.col("toks"))
    scored = d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "h",
        langexpr.alias("lang_guess"),
        F.size("toks").alias("n_tokens"),
        (F.size(F.array_distinct("toks")) / F.size("toks").cast("double")).alias(
            "ttr"
        ),
    )
    filtered = scored.filter((F.col("n_tokens") >= 20) & (F.col("ttr") >= 0.2))
    kept = filtered.withColumn(
        "mn", F.min("doc_id").over(W.partitionBy("h"))
    ).filter(F.col("doc_id") == F.col("mn"))
    return (
        kept.groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*"), 6
            ).alias("avg_tokens"),
            r6(F.avg("ttr")).alias("avg_ttr"),
        )
    )


@register(
    "sim_range_search",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3)
    SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cos_sim
    FROM q CROSS JOIN embeddings e
    WHERE round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) >= 0.25
    """,
    tags=("llm", "similarity"),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search: every corpus vector within cosine >= 0.25 of a
    (bounded, collected) query set — the radius-query sibling of
    sim_topk_cosine, same map-only mapInPandas matmul shape; the threshold
    is applied to the ROUNDED cosine on both engines so the boundary never
    flips."""
    from lagom_kinesis_spark.operators.similarity import (
        batch_range_cosine,
        embedding_query_panel,
    )

    e = load(spark, sf_dir, "embeddings")
    # bounded panel, driver-side footer read (no Spark job; r9)
    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 3)
    scored = batch_range_cosine(e, "vec_id", "embedding", q_ids, q_vecs, tau=0.25)
    return scored.select(
        "q_id", "vec_id", r6(F.col("cos_sim")).alias("cos_sim")
    ).filter(F.col("cos_sim") >= 0.25)


@register(
    "text_winnow_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
    codes AS (
      SELECT doc_id, len(s) AS n,
             list_transform(range(1, len(s)+1),
                            p -> CAST(ord(substring(s, p, 1)) AS BIGINT)) AS cs
      FROM t
    ),
    hashes AS (
      SELECT doc_id, n,
             CASE WHEN n >= 11 THEN
               list_transform(range(0, n-8+1), i -> (cs[i+1]*27512614111 + cs[i+2]*887503681 + cs[i+3]*28629151 + cs[i+4]*923521 + cs[i+5]*29791 + cs[i+6]*961 + cs[i+7]*31 + cs[i+8]*1) % 2147483647)
             ELSE [] END AS hs
      FROM codes
    ),
    fps AS (
      SELECT doc_id,
             CASE WHEN n >= 11 THEN
               list_distinct(list_transform(range(1, len(hs)-4+2),
                             i -> list_min(list_slice(hs, i, i+4-1))))
             ELSE [] END AS fp
      FROM hashes
    )
    SELECT doc_id, len(fp) AS n_fp,
           list_min(fp) AS min_fp, list_max(fp) AS max_fp
    FROM fps
    """,
    tags=("llm", "text", "dedup"),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via winnowed rolling hashes (MOSS,
    Schleimer et al. 2003): Rabin-Karp polynomial over 8-char windows,
    min-of-4 winnowing, distinct fingerprints per doc. The polynomial is
    exact int64 arithmetic so Spark and DuckDB agree bit-for-bit — no
    engine hash function involved. Map-only at any scale; grouping docs by
    shared fingerprint is then one explode + shuffle (same shape as
    dedup_fingerprint)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    fp = winnow_fingerprints("text", k=8, w=4)
    return d.select("doc_id", fp.alias("fp")).select(
        "doc_id",
        F.size("fp").alias("n_fp"),
        F.array_min("fp").alias("min_fp"),
        F.array_max("fp").alias("max_fp"),
    )


@register(
    "dedup_prefix_filter_join",
    oracle="""
    WITH sub AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
               i -> concat_ws(' ',
                    string_split(lower(text), ' ')[i],
                    string_split(lower(text), ' ')[i+1],
                    string_split(lower(text), ' ')[i+2])
             )) AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jac
    FROM sub a JOIN sub b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))
          / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.4
    """,
    tags=("llm", "dedup", "join", "oracle_heavy"),
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (the
    SSJoin/PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008):
    all shingle-set pairs with Jaccard ≥ 0.4, WITHOUT the all-pairs
    comparison the oracle performs.

    Lossless pruning: order every doc's shingles rare-first (by global
    frequency), keep only the first ``n − ceil(θ·n) + 1`` as its probe
    prefix. If jac(A,B) ≥ θ then |A∩B| ≥ θ·|A|, which cannot fit in
    A's non-prefix suffix (length ceil(θ·|A|) − 1 < θ·|A|) — so A's
    prefix must hit B, and probing prefix(A) against ALL of B's
    shingles (for A < B) misses nothing. Candidates are then verified
    with the exact intersection/union sizes.

    Scale: frequency ordering makes the exploded probe side carry
    mostly rare shingles, so the candidate equi-join stays selective —
    cost tracks true-near-dup density, not corpus², the same contract
    as MinHash-LSH (dedup_minhash_lsh) but exact instead of
    probabilistic. Plan: three hash shuffles (vocab agg, per-doc
    re-sort, candidate join) + one verify join; no cartesian anywhere.
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    theta = 0.4
    # The whole pipeline decides on shingle IDENTITY, never content, so it
    # runs on xxhash64'd shingles end-to-end (§2.3 narrower types): the
    # vocab agg, probe/index joins and the collect_list re-sort shuffle
    # 8-byte longs instead of ~25-byte strings, and the verify arrays
    # shrink the same way (−72% verify-layer measured on the LSH twin,
    # .bench/ab_verify_hash_r12.json). Output invariant: prefix-filter
    # pruning is lossless for ANY total order applied consistently (the
    # proof needs only a common order + the prefix length bound; rare-first
    # is the performance heuristic and frequencies are hash-invariant —
    # only equal-frequency TIE-BREAKS change, which may alter the candidate
    # set but never the exactly-verified result), and jac reads set sizes,
    # invariant under an injective map (collision odds ~3e-14/pair union).
    sh = d.select(
        "doc_id", shingle_hash_proxy(shingles(tokens("text"))).alias("sh")
    ).filter(F.size("sh") > 0)
    ex = sh.select("doc_id", F.explode("sh").alias("t"))
    freq = ex.groupBy("t").agg(F.count("*").alias("ft"))
    # merge-hints throughout (r12 broadcast audit): every join side here —
    # the shingle-VOCAB freq table (3-gram shingles are nearly unique per
    # doc, so |vocab| tracks corpus size), the exploded probe/index sides,
    # and the shingle-array verify sides — is corpus-scaled, but the
    # planner prices them off the compressed documents scan and planned
    # sf10 BroadcastHashJoins for all four. Broadcast of a corpus-scaled
    # side is an inevitable OOM at real scale; big⋈big must shuffle.
    ordered = (
        ex.join(freq.hint("merge"), "t")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("ft", "t"))).alias("os"))
    )
    plen = (
        F.size("os") - F.ceil(F.size("os") * F.lit(theta)) + F.lit(1)
    ).cast("int")
    probe = ordered.select(
        F.col("doc_id").alias("a"), F.explode(F.slice("os", F.lit(1), plen)).alias("p")
    ).select("a", F.col("p.t").alias("t"))
    index = ex.select(F.col("doc_id").alias("b"), "t")
    cand = (
        probe.join(index.hint("merge"), "t")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = sh.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha"))
    vb = sh.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb"))
    jac = jaccard(F.col("sha"), F.col("shb"))
    return (
        cand.join(va.hint("merge"), "a")
        .join(vb.hint("merge"), "b")
        .withColumn("jac_raw", jac)
        .filter(F.col("jac_raw") >= theta)
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            r6(F.col("jac_raw")).alias("jac"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH t2 AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    toks AS (SELECT * FROM t2 WHERE tok <> ''),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq)
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(AVG(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS avg_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    tags=("llm", "text", "quality", "scalar"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram log-probability per document — the model-free
    stand-in for perplexity filtering (docs whose tokens are corpus-rare
    score low; boilerplate scores high): avg over token INSTANCES of
    ln(count(tok)/N) under the corpus's own unigram distribution.

    Plan: one vocab aggregate (map-side combine), a token-keyed join of
    instances to frequencies, a broadcast 1-row total, then a doc-keyed
    average — two data shuffles regardless of corpus size. ln() is
    applied to identical doubles on both engines and averaged over ≪1e6
    terms, far inside the round-6 quantum.
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            r6(
                F.avg(F.log(F.col("c").cast("double") / F.col("n").cast("double")))
            ).alias("avg_logprob"),
        )
    )


@register(
    "multimodal_resize_plan",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'text' END AS modality,
             CAST(n_chars % 640 AS INT) AS width,
             CAST(n_chars % 480 AS INT) AS height
      FROM documents
    )
    SELECT doc_id, width, height,
           CASE WHEN greatest(width, height) > 224
                THEN CAST((width * 224) // greatest(width, height) AS INT)
                ELSE width END AS out_width,
           CASE WHEN greatest(width, height) > 224
                THEN CAST((height * 224) // greatest(width, height) AS INT)
                ELSE height END AS out_height
    FROM m WHERE modality = 'image'
    """,
    tags=("llm", "multimodal"),
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning for image payloads: fit-within-224-box target
    dimensions computed from METADATA ONLY — pure integer JVM
    expressions, so the (often 100×-larger) payload bytes are never
    read, decoded, or moved until a downstream decode actually needs
    the plan. The modality predicate prunes rows before any byte work —
    the metadata-first discipline operators/multimodal.py documents.
    The real pixel resample belongs in the stubbed decoder
    (decode_features); this op is the Spark-side scheduling half.
    """
    blobs = multimodal.attach_payload(load(spark, sf_dir, "documents"))
    w = F.col("meta.width")
    h = F.col("meta.height")
    m = F.greatest(w, h)
    fit = lambda side: F.when(  # noqa: E731
        m > 224, F.expr("(" + side + " * 224) div greatest(meta.width, meta.height)").cast("int")
    ).otherwise(F.col(side))
    return blobs.filter(F.col("meta.modality") == "image").select(
        "doc_id",
        w.alias("width"),
        h.alias("height"),
        fit("meta.width").alias("out_width"),
        fit("meta.height").alias("out_height"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_frames
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, n_frames,
           unnest(generate_series(0, n_frames - 1, 25)) AS frame_idx,
           unnest(generate_series(0, n_frames - 1, 25)) * 1024 AS byte_offset
    FROM v
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: every 25th frame
    index (1/sec at 25 fps) with its byte offset into the blob,
    generated JVM-side (``sequence`` + ``explode``) from metadata — the
    seek plan a real ffmpeg-backed decoder would execute per partition.
    Row inflation is frames/25 per doc, partition-local (no shuffle);
    the payload itself is untouched until a decoder consumes the plan.
    Frame count is synthesized as n_chars (40 ms/frame over the text
    stand-in blob); offsets assume a fixed 1024-byte frame stride.
    """
    v = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.col("n_chars").cast("long").alias("n_frames"))
    )
    # Guard n_frames >= 1: Spark's sequence(0, -1, 25) THROWS on a
    # zero-frame (empty) document where DuckDB's generate_series yields
    # empty — the same sequence() hazard text_bigram_logprob guards.
    # Exploding the empty array drops the row, matching the oracle.
    idxs = F.when(
        F.col("n_frames") >= 1,
        F.sequence(
            F.lit(0).cast("long"), F.col("n_frames") - 1, F.lit(25).cast("long")
        ),
    ).otherwise(F.array().cast("array<long>"))
    return v.select(
        "doc_id",
        "n_frames",
        F.explode(idxs).alias("frame_idx"),
    ).withColumn("byte_offset", F.col("frame_idx") * 1024)


@register(
    "dedup_source_overlap_matrix",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source,
             md5(array_to_string(list_sort(list_distinct(
                 string_split(lower(text), ' '))), ' ')) AS h
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    tags=("llm", "dedup", "agg"),
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-source duplication matrix: for every source pair,
    how many distinct document fingerprints (sorted distinct token set,
    as in dedup_fingerprint) appear in both.

    The curation question this answers — "which corpus sources are
    near-copies of each other?" — decides dedup ORDER in a multi-source
    training pipeline (dedup the overlapping pair first, count tokens
    after). Fingerprint identity rather than raw md5(text) so token-order
    shuffles still count as overlap (and because the fixtures' exact
    cross-source duplicates are empty below sf0.1 — raw-text identity
    would make the gate row vacuous). Scale: one shuffle to distinct
    (source, fingerprint) pairs, then a self-equi-join on the hash;
    per-hash fan-out is bounded by the number of sources (tiny), never by
    corpus size, so the join output is at most |sources|²/2 per hash
    bucket — no quadratic blowup on a 100 TB corpus.
    """
    d = load(spark, sf_dir, "documents")
    # The SAME canonical fingerprint() the other dedup queries group on —
    # a hand-rolled copy here could silently drift from dedup_fingerprint.
    sh = d.select("source", fingerprint("text").alias("h")).distinct()
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )


def _ann_pq_oracle(m: int = 4, n_codes: int = 8, sub_dim: int = 16, k: int = 10) -> str:
    """DuckDB SQL replaying PQ-ADC: the same md5-ordered codeword sample,
    the same round-6 argmin sub-space code assignment (ties to the lowest
    codeword id), and an ADC built from PER-SUBSPACE round-6 distances —
    each of the m table entries is rounded BEFORE the sum (mirroring the
    code-assignment discipline), so neither engine's summation order over
    the m terms can shift the total by more than a last-ulp on
    already-quantized addends, and the final round-6 rank is stable. The
    transform lambda binds ``d`` (never ``i`` — see portable_hash_sql's
    shadowing caution)."""
    return f"""
    WITH {_ann_pq_ctes(m, n_codes, sub_dim)}
    SELECT * FROM (
      SELECT q_id, vec_id, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY adc, vec_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


def _ann_pq_ctes(m: int = 4, n_codes: int = 8, sub_dim: int = 16) -> str:
    """The shared CTE chain of the PQ oracles (md5-ordered codeword sample →
    normalized corpus → round-6 argmin codes → query tables → ADC
    ``scored``); _ann_pq_oracle documents the determinism discipline."""
    sq = lambda s: f"(list_sum(list_transform(range(1, {sub_dim + 1}), d -> " \
        f"(c.v[{s}*{sub_dim} + d] - p.v[{s}*{sub_dim} + d]) * " \
        f"(c.v[{s}*{sub_dim} + d] - p.v[{s}*{sub_dim} + d]))))"
    return f"""samp AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS INT) - 1 AS j, v
      FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
                   list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], z -> z * z)))) AS v
            FROM embeddings ORDER BY h, vec_id LIMIT {n_codes})
    ), corpus AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], z -> z * z)))) AS v FROM embeddings
    ), subs AS (SELECT unnest(range(0, {m})) AS s),
    dists AS (
      SELECT c.vec_id, subs.s AS sub, p.j,
             round({sq("subs.s")}, 6) AS d_r
      FROM corpus c CROSS JOIN subs CROSS JOIN samp p
    ),
    codes AS (
      SELECT vec_id, sub, j AS code FROM (
        SELECT vec_id, sub, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d_r, j) AS arn
        FROM dists
      ) WHERE arn = 1
    ),
    qtab AS (
      SELECT vec_id AS q_id, sub, j, d_r FROM dists WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.q_id, c.vec_id, round(SUM(q.d_r), 6) AS adc
      FROM codes c JOIN qtab q ON q.sub = c.sub AND q.j = c.code
      GROUP BY q.q_id, c.vec_id
    )"""


@register(
    "sim_ann_pq",
    oracle=_ann_pq_oracle(),
    # "cross": the ADC table is a crossJoin against a broadcast frame of
    # bounded size (5 queries x 8-codeword codebooks) — 1:40, never n x n.
    tags=("llm", "similarity", "scale", "cross"),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_encode/pq_adc_topk):
    the 64-dim space splits into 4 sub-spaces of 16 dims, each sub-vector
    is replaced by the id of its nearest codeword (8 per sub-space →
    4 bytes per vector instead of 256), and queries rank the corpus by
    asymmetric distance — exact query slice vs codeword — read from a
    per-query (4 x 8) lookup table, touching only the code bytes.

    Completes the ANN family (sim_topk_cosine exact / sim_ann_lsh /
    sim_ann_ivf / PQ): IVF prunes WHICH vectors are scored, PQ compresses
    HOW each one is scored — production systems (FAISS IVF-PQ) compose
    both. The codebook is the md5-ordered data sample (the discipline that
    makes the whole pipeline SQL-replayable; a k-means codebook drops into
    the same plan). Scale: encoding is one map-only JVM-expression pass;
    query tables are model-sized broadcasts; corpus vectors are never
    shipped after encoding — at 100 TB the scored relation is 4 bytes of
    code per vector, the difference between shuffling embeddings and
    shuffling fingerprints."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    S = md5_sample_matrix(e, 8)  # 8 × dim — model-sized driver-safe collect
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)  # unit sphere, as corpus
    codebooks = Sn.reshape(8, 4, 16).transpose(1, 0, 2)  # (m, n_codes, sub_dim)
    from lagom_kinesis_spark.operators.similarity import (
        embedding_query_panel,
        pq_adc_topk,
    )

    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 5)
    return pq_adc_topk(e, codebooks, q_ids, q_vecs, k=10)


def _ann_pq_trained_oracle(k: int = 10) -> str:
    """Oracle for sim_ann_pq_trained: DuckDB replays the three
    SQL-expressible legs — the exact cosine top-k (sim_topk_cosine's
    oracle), the SAMPLED-codebook PQ top-k (_ann_pq_ctes, giving the
    sampled recall hits), and the trained leg's row-count contract
    (exactly k rows per query). The TRAINED codebooks themselves
    (driver-side Lloyd's k-means) are not SQL-replayed — float summation
    order in iterated means diverges across engines — so the trained
    leg's QUALITY contribution is the claim column ``trained_mse_le_sampled
    = TRUE``, which is a theorem, not a fixture accident: the sampled
    codebook (first n_codes md5-ordered vectors) is exactly Lloyd's
    initialization, and Lloyd iterations monotonically non-increase
    in-sample quantization MSE. (A recall@k inequality was the first
    formulation and FAILED the sf1 sweep — recall of 5 fixed queries is a
    noisy functional with no monotonicity guarantee; the MSE claim is
    scale-invariant.)"""
    return f"""
    WITH {_ann_pq_ctes()},
    pq_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY adc, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {k}
    ),
    exact_scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 5) q
      CROSS JOIN embeddings e
    ),
    exact_top AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM exact_scored
      ) WHERE rn <= {k}
    )
    SELECT CAST((SELECT COUNT(DISTINCT q_id) FROM exact_top) AS INT) AS n_queries,
           CAST((SELECT COUNT(*) FROM exact_top e
                 JOIN pq_top p USING (q_id, vec_id)) AS INT) AS sampled_hits,
           CAST((SELECT COUNT(DISTINCT q_id) * {k} FROM exact_top) AS INT)
             AS trained_topk_rows,
           TRUE AS trained_mse_le_sampled
    """


@register(
    "sim_ann_pq_trained",
    oracle=_ann_pq_trained_oracle(),
    # "cross": same bounded broadcast ADC crossJoin as sim_ann_pq.
    tags=("llm", "similarity", "scale", "cross"),
)
def sim_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook PQ (VERDICT r5 ask #7): Lloyd's k-means codebooks
    (operators/similarity.train_pq_codebooks — deterministic md5-ordered
    256-vector sample, 10 iterations, no RNG) dropped into the IDENTICAL
    pq_adc_topk ADC plan as sim_ann_pq — training swaps the MODEL, never
    the plan. Output is the production acceptance record for a trained
    index: the sampled codebook's recall@10 hits against the exact cosine
    top-10 (both legs SQL-replayed by the oracle), the trained ADC leg's
    k-rows-per-query contract, and the claim that training did not
    increase in-sample quantization MSE — a THEOREM (the sampled codebook
    is exactly Lloyd's init, and Lloyd iterations monotonically
    non-increase in-sample MSE), therefore scale-invariant, unlike the
    recall inequality the sf1 sweep refuted (see _ann_pq_trained_oracle).

    Scale: both PQ legs are the 4-byte-code ADC scan; the exact leg is the
    bounded-query broadcast matmul (sim_topk_cosine); the MSE check runs
    on the driver over the model-sized 256-vector training sample."""
    import numpy as np

    from lagom_kinesis_spark.operators.similarity import (
        embedding_query_panel,
        pq_adc_topk,
        train_pq_codebooks,
    )

    e = load(spark, sf_dir, "embeddings")
    # bounded panel, driver-side footer read (no Spark job; r9)
    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 5)
    trained = train_pq_codebooks(e)

    # In-sample quantization MSE of a codebook over the SAME md5-ordered
    # 256-vector training sample Lloyd's used (model-sized driver compute).
    X = md5_sample_matrix(e, 256)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sampled_books = Xn[:8].reshape(8, 4, 16).transpose(1, 0, 2)

    def in_sample_mse(books: "np.ndarray") -> float:
        m, _, sub_dim = books.shape
        total = 0.0
        for s in range(m):
            sub = Xn[:, s * sub_dim : (s + 1) * sub_dim]
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            total += float(d.min(axis=1).sum())
        return total / len(Xn)

    mse_claim = bool(in_sample_mse(trained) <= in_sample_mse(sampled_books))

    trained_top = pq_adc_topk(e, trained, q_ids, q_vecs, k=10).select(
        "q_id", "vec_id"
    )
    sampled_top = sim_ann_pq(spark, sf_dir).select("q_id", "vec_id")
    exact_top = sim_topk_cosine(spark, sf_dir).select("q_id", "vec_id")
    s_hits = exact_top.join(sampled_top, ["q_id", "vec_id"]).agg(
        F.count("*").alias("sampled_hits")
    )
    t_rows = trained_top.agg(F.count("*").alias("trained_topk_rows"))
    nq = exact_top.agg(F.countDistinct("q_id").alias("n_queries"))
    return (
        nq.crossJoin(s_hits)
        .crossJoin(t_rows)
        .select(
            F.col("n_queries").cast("int").alias("n_queries"),
            F.col("sampled_hits").cast("int").alias("sampled_hits"),
            F.col("trained_topk_rows").cast("int").alias("trained_topk_rows"),
            F.lit(mse_claim).alias("trained_mse_le_sampled"),
        )
    )


def _ann_ivfpq_oracle(
    k_lists: int = 8, n_probe: int = 2,
    m: int = 4, n_codes: int = 8, sub_dim: int = 16, k: int = 10,
) -> str:
    """DuckDB SQL replaying IVF-PQ exactly: one md5-ordered sample serves
    as both the coarse centroids and (re-sliced) the PQ codebooks; cluster
    assignment/probing by round-6 cosine, code assignment by round-6
    sub-space L2, ADC summed from PER-SUBSPACE round-6 distances (so the
    m-term summation order cannot flip a rank), round-6 rank."""
    sq = lambda s: f"(list_sum(list_transform(range(1, {sub_dim + 1}), d -> " \
        f"(c.v[{s}*{sub_dim} + d] - p.v[{s}*{sub_dim} + d]) * " \
        f"(c.v[{s}*{sub_dim} + d] - p.v[{s}*{sub_dim} + d]))))"
    return f"""
    WITH samp AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS INT) - 1 AS j, v
      FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
                   list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], z -> z * z)))) AS v
            FROM embeddings ORDER BY h, vec_id LIMIT {k_lists})
    ), corpus AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[], z -> z * z)))) AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, cluster FROM (
        SELECT c.vec_id, p.j AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.v, p.v), 6) DESC,
                          p.j) AS arn
        FROM corpus c CROSS JOIN samp p
      ) WHERE arn = 1
    ), probes AS (
      SELECT q_id, cluster FROM (
        SELECT c.vec_id AS q_id, p.j AS cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(c.v, p.v), 6) DESC,
                          p.j) AS prn
        FROM (SELECT vec_id, v FROM corpus WHERE vec_id < 5) c
        CROSS JOIN samp p
      ) WHERE prn <= {n_probe}
    ), subs AS (SELECT unnest(range(0, {m})) AS s),
    dists AS (
      SELECT c.vec_id, subs.s AS sub, p.j,
             round({sq("subs.s")}, 6) AS d_r
      FROM corpus c CROSS JOIN subs CROSS JOIN samp p
    ),
    codes AS (
      SELECT vec_id, sub, j AS code FROM (
        SELECT vec_id, sub, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d_r, j) AS arn
        FROM dists
      ) WHERE arn = 1
    ),
    qtab AS (
      SELECT vec_id AS q_id, sub, j, d_r FROM dists WHERE vec_id < 5
    ),
    scored AS (
      SELECT pr.q_id, a.vec_id, round(SUM(q.d_r), 6) AS adc
      FROM probes pr
      JOIN assigned a ON a.cluster = pr.cluster
      JOIN codes c ON c.vec_id = a.vec_id
      JOIN qtab q ON q.q_id = pr.q_id AND q.sub = c.sub AND q.j = c.code
      GROUP BY pr.q_id, a.vec_id
    )
    SELECT * FROM (
      SELECT q_id, vec_id, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY adc, vec_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@register(
    "sim_ann_ivfpq",
    oracle=_ann_ivfpq_oracle(),
    tags=("llm", "similarity", "scale"),
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/similarity.ivfpq_topk) — the
    production ANN shape (FAISS IVFPQ): IVF prunes WHICH vectors each
    query scores (probe the 2 nearest of 8 inverted lists), PQ compresses
    HOW each is scored (asymmetric distance from a per-query 4x8 table
    against 4-byte codes). One md5-ordered data sample serves as both the
    coarse centroids and, re-sliced, the PQ codebooks — keeping the whole
    two-level index SQL-replayable. Scale: the scored relation carries
    cluster + 4 code bytes per vector; candidates come from a cluster
    equi-join of a model-sized broadcast; original embeddings are never
    shipped past the encoding projection."""
    import numpy as np

    from lagom_kinesis_spark.operators.similarity import (
        embedding_query_panel,
        ivfpq_topk,
    )

    e = load(spark, sf_dir, "embeddings")
    S = md5_sample_matrix(e, 8)  # 8 × dim — model-sized driver-safe collect
    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    codebooks = Sn.reshape(8, 4, 16).transpose(1, 0, 2)
    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 5)
    return ivfpq_topk(e, S, codebooks, q_ids, q_vecs, k=10, n_probe=2)


@register(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    big AS (
      SELECT doc_id, t[p] AS a, t[p + 1] AS b
      FROM (SELECT doc_id, unnest(range(1, len(t))) AS p, t FROM toks)
    ),
    bfreq AS (SELECT a, b, COUNT(*) AS c_ab FROM big GROUP BY a, b),
    afreq AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM bfreq GROUP BY a)
    SELECT big.doc_id, COUNT(*) AS n_bigrams,
           round(AVG(ln(CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE))), 6)
             AS avg_cond_logprob
    FROM big JOIN bfreq USING (a, b) JOIN afreq USING (a)
    GROUP BY big.doc_id
    """,
    tags=("llm", "text", "quality", "scalar"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram CONDITIONAL log-probability per document — one Markov
    order above text_unigram_logprob's bag-of-words score: avg over
    bigram instances of ln(c(a,b)/c(a)) under the corpus's own bigram
    distribution. Repetitive/boilerplate word SEQUENCES score high even
    when their unigrams are unremarkable — the signal a perplexity filter
    actually wants. MLE needs no smoothing here because every scored
    bigram contributed to the corpus counts (no zeros by construction).

    Plan: bigrams extracted array-side (one transform per doc; the token
    array never rides through the explode), then the same two-shuffle
    shape as the unigram variant — a (a,b)-keyed count (map-side
    combine), context counts derived FROM those partials (never a second
    pass over instances), and a doc-keyed average. Docs under 2 tokens
    drop identically on both engines (empty range). Spark's sequence()
    generates DESCENDING arrays when start > stop, so the short-doc guard
    is explicit."""
    d = fan_out(load(spark, sf_dir, "documents"))
    t = F.split(F.lower(F.col("text")), " ")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("a"), F.element_at(t, i + 1).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    big = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    bfreq = big.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    afreq = bfreq.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    return (
        big.join(bfreq, ["a", "b"])
        .join(afreq, "a")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r6(
                F.avg(F.log(F.col("c_ab").cast("double") / F.col("c_a").cast("double")))
            ).alias("avg_cond_logprob"),
        )
    )


@register(
    "text_levenshtein_knn",
    oracle="""
    WITH probes AS (
      SELECT doc_id AS q_id, substr(text, 1, 120) AS qk
      FROM documents WHERE doc_id IN (0, 1, 2)
    ), scored AS (
      SELECT p.q_id, d.doc_id,
             levenshtein(p.qk, substr(d.text, 1, 120)) AS dist
      FROM probes p CROSS JOIN documents d
      WHERE d.doc_id <> p.q_id
    )
    SELECT q_id, doc_id, dist FROM (
      SELECT q_id, doc_id, dist,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY dist, doc_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    tags=("llm", "text", "similarity", "cross"),
)
def text_levenshtein_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance nearest neighbors: for a BOUNDED probe set (3 docs),
    the 5 closest documents by levenshtein over the 120-char normalized
    prefix — the fuzzy-matching primitive (near-identical boilerplate,
    templated docs, OCR noise) the token-set family (Jaccard/minhash)
    can't express because it is order- and character-sensitive.

    Scale: probes broadcast, one map-only corpus scan computing a
    JVM-codegen'd DP distance per (probe, doc) — linear in corpus size ×
    |probes|, no shuffle before the bounded top-k; both engines implement
    the identical classic DP distance (parity spot-checked incl. empty
    strings). Prefix capping bounds the O(len²) DP cell count per row."""
    d = load(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id").isin(0, 1, 2)).select(
        F.col("doc_id").alias("q_id"),
        F.substring("text", 1, 120).alias("qk"),
    )
    scored = (
        d.select("doc_id", F.substring("text", 1, 120).alias("k"))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("doc_id") != F.col("q_id"))
        .select(
            "q_id",
            "doc_id",
            F.levenshtein(F.col("qk"), F.col("k")).alias("dist"),
        )
    )
    w = W.partitionBy("q_id").orderBy("dist", "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "doc_id", "dist")
    )


@register(
    "quality_repetition_filter",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens,
             len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')), 1)),
               i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                                   string_split(lower(text), ' ')[i+1])
             )) AS bigram
      FROM documents
    ), bg AS (
      SELECT doc_id, MAX(n) AS top_n, SUM(n) AS total_n FROM (
        SELECT doc_id, bigram, COUNT(*) AS n FROM grams
        GROUP BY doc_id, bigram
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           round(1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6)
             AS dup_token_frac,
           round(COALESCE(CAST(g.top_n AS DOUBLE) / g.total_n, 0.0), 6)
             AS top_bigram_share,
           (round(1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6) <= 0.7
            AND round(COALESCE(CAST(g.top_n AS DOUBLE) / g.total_n, 0.0), 6) <= 0.2)
             AS keep
    FROM base b LEFT JOIN bg g USING (doc_id)
    """,
    tags=("llm", "quality"),
)
def quality_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/RefinedWeb rule family
    the heuristic scorer lacks): per document, the duplicate-token
    fraction (1 − distinct/total) and the TOP-BIGRAM SHARE (most frequent
    bigram's fraction of all bigrams) — boilerplate, keyword-stuffed and
    looping generations score high on exactly these; `keep` applies the
    classic thresholds (dup ≤ 0.7, top-bigram ≤ 0.2).

    Scale: token stats are map-only array expressions; the bigram mode
    needs one shuffle on (doc_id, bigram) whose partials combine map-side,
    then a per-doc rollup — no all-pairs anything, linear in corpus
    bytes. Ratios round-6 on identical integer inputs, so the boolean cut
    is engine-deterministic."""
    from lagom_kinesis_spark.functions.helpers import let

    d = fan_out(load(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        let(
            tokens("text"),
            lambda t: F.struct(
                F.size(t).alias("n_tokens"),
                F.size(F.array_distinct(t)).alias("n_distinct"),
            ),
        ).alias("s"),
    ).select("doc_id", "s.n_tokens", "s.n_distinct")
    grams = bigrams("text")
    bg = (
        d.select("doc_id", F.explode(grams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("total_n"))
    )
    dup_frac = F.round(
        1.0 - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
    )
    top_share = F.round(
        F.coalesce(F.col("top_n").cast("double") / F.col("total_n"), F.lit(0.0)),
        6,
    )
    return base.join(bg, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        dup_frac.alias("dup_token_frac"),
        top_share.alias("top_bigram_share"),
        ((dup_frac <= 0.7) & (top_share <= 0.2)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Retrieval & embedding audits
# ---------------------------------------------------------------------------


#: The BM25 retrieval arm as DuckDB CTEs, shared verbatim between
#: text_bm25_topk's oracle and sim_hybrid_rrf's lexical arm — one SQL
#: derivation, impossible to desync (the _srp_bucket_sql pattern). ``bm``
#: is the full per-doc score relation; top-k/rank policy stays with each
#: consumer.
_BM25_ARM_CTES = """toks AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS dl,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, ANY_VALUE(dl) AS dl, COUNT(*) AS tf
      FROM toks WHERE tok IN ('vector', 'join', 'stream')
      GROUP BY doc_id, tok
    ), stats AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), g AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(lower(text), ' '))) AS DOUBLE)
               / COUNT(*) AS avgdl
      FROM documents
    ), bm AS (
      SELECT doc_id, round(SUM(
        ln(1.0 + (g.n_docs - s.df + 0.5) / (s.df + 0.5)) *
        (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / g.avgdl))
      ), 6) AS bm25
      FROM tf JOIN stats s USING (tok) CROSS JOIN g
      GROUP BY doc_id
    )"""


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_ARM_CTES}
    SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
    # "scalar": the only NLJ is the broadcast of the 1-row (N, avgdl)
    # global-statistics frame — bounded by construction.
    tags=("llm", "text", "retrieval", "scalar"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval (k1=1.2, b=0.75): top-15 documents for a
    3-term query — the lexical-retrieval half of a RAG / data-curation
    stack next to the embedding ANN family. All corpus statistics (df,
    N, avgdl) come from the data; no pre-built index is assumed.

    Scale: tokenize+explode is map-side; tf is one shuffle on
    (doc_id, tok) restricted to the query terms (the filter pushes below
    the explode's generator output, so non-query tokens never shuffle);
    the df/N/avgdl statistics are term- and scalar-cardinality and
    broadcast back; the final top-15 is TakeOrderedAndProject (per-
    partition partial top-k, no global sort). On a real deployment the
    per-term postings (tf) would be written once and reused per query —
    the plan after `tf` is exactly that reuse."""
    terms = ["vector", "join", "stream"]
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.size(tokens("text")).alias("dl"),
        F.explode(tokens("text")).alias("tok"),
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.first("dl").alias("dl"), F.count("*").alias("tf"))
    )
    stats = tf.groupBy("tok").agg(F.count("*").alias("df"))
    g = d.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size(tokens("text"))).cast("double") / F.count("*")
        ).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = idf * (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(stats), "tok")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


@register(
    "sim_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_ARM_CTES},
    lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS r_lex
      FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT 15)
    ),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(qv.v, e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM embeddings e CROSS JOIN qv
    ),
    dense AS (
      SELECT vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS INT)
               AS r_dense
      FROM scored
      QUALIFY r_dense <= 15
    )
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
           l.r_lex, d.r_dense,
           round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.r_lex), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + d.r_dense), 0), 6)
             AS rrf_score
    FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
    """,
    # "cross" = the deliberate 1-row query-vector broadcast in the dense
    # arm's oracle; the Spark plan broadcasts the 1-vector query matrix
    # into the Arrow matmul (sim_topk_cosine machinery).
    tags=("llm", "similarity", "retrieval", "scalar", "cross"),
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via RECIPROCAL-RANK FUSION — the standard way a
    RAG stack combines its lexical and dense arms (Cormack et al.'s
    RRF, k=60): each arm contributes 1/(60+rank) for every candidate in
    its top-15, candidates outside an arm contribute 0 from it, and the
    fused score is the sum. Ranks are integer-exact row_numbers over
    each arm's round-6 score (+ id tiebreak), so both engines produce
    bit-identical fused doubles — the IEEE divisions and the one
    addition see the same operands in the same order.

    Arms: the lexical list is text_bm25_topk's plan verbatim (3-term
    BM25, top-15); the dense list is the exact cosine top-15 for the
    vec_id=0 query embedding on sim_topk_cosine's machinery (broadcast
    query matrix, Arrow-batch matmul, per-batch partial top-k). The
    oracle replays BOTH arms from the shared _BM25_ARM_CTES text and
    the sim_topk_cosine scoring form, then fuses in SQL.

    Scale: all fusion work happens on two ≤15-row frames (a full-outer
    join of top-k lists — broadcast-trivial at any corpus size); the
    corpus-sized work is exactly the two arms, each already the
    scale-shaped plan its own query registered. At 100 TB the arms run
    off prebuilt postings/ANN indexes and this fusion layer is
    unchanged — that independence is the point of rank fusion."""
    from lagom_kinesis_spark.operators.similarity import (
        batch_topk_cosine,
        embedding_query_panel,
    )

    lex = text_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r_lex"),
    )
    e = load(spark, sf_dir, "embeddings")
    # |Q| = 1 — the vec_id=0 query embedding, driver-side footer read
    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 1)
    scored = batch_topk_cosine(e, "vec_id", "embedding", q_ids, q_vecs, k=15)
    dense = (
        scored.select("vec_id", r6(F.col("cos_sim")).alias("cos_sim"))
        .withColumn(
            "r_dense",
            F.row_number().over(W.orderBy(F.col("cos_sim").desc(), "vec_id")),
        )
        .filter(F.col("r_dense") <= 15)
        .select(F.col("vec_id").alias("doc_id"), "r_dense")
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.col("r_lex") + 60), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.col("r_dense") + 60), F.lit(0.0))
    return lex.join(dense, "doc_id", "full_outer").select(
        "doc_id", "r_lex", "r_dense", r6(rrf).alias("rrf_score")
    )


@register(
    "embed_dim_stats",
    oracle="""
    WITH ex AS (
      SELECT unnest(embedding)::DOUBLE AS x,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    )
    SELECT dim, COUNT(*) AS n,
           round(AVG(x), 6) AS mean_x,
           MIN(x) AS min_x, MAX(x) AS max_x,
           round(sqrt(SUM(x * x) / COUNT(*)), 6) AS rms_x
    FROM ex GROUP BY dim
    """,
    tags=("llm", "similarity", "dq"),
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-quality audit: count, mean, min/max, and
    RMS for every coordinate of the embedding column. Collapsed or
    dead dimensions (rms ≈ 0), mean drift, and outlier coordinates are
    the standard checks before trusting an embedding table for ANN /
    dedup — this is the profiling pass that catches a bad encoder batch.

    Scale: posexplode is map-side (dim-fold fan-out, no shuffle of the
    vectors themselves); the single shuffle is on the 64 dim keys with
    map-side partial aggregation, so reduce-side traffic is
    #partitions x #dims regardless of corpus size. min/max of the
    float->double cast are exact; mean/rms are round-6 (float error
    orders below the quantum)."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    ex = e.select(F.posexplode("embedding").alias("dim", "xf")).select(
        F.col("dim").cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("x"), 6).alias("mean_x"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.round(F.sqrt(F.sum(F.col("x") * F.col("x")) / F.count("*")), 6).alias(
            "rms_x"
        ),
    )


@register(
    "sim_hard_negative_mining",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 8
    ), scored AS (
      SELECT q.q_id, q.q_label, e.vec_id, e.label,
             round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM q JOIN embeddings e ON e.label <> q.q_label
    )
    SELECT q_id, q_label, vec_id AS neg_id, label AS neg_label, cos_sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    # "cross": label-inequality join against an 8-row broadcast anchor
    # set — a bounded broadcast NLJ by construction, never corpus x corpus.
    tags=("llm", "similarity", "cross"),
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the single most-similar vector with a DIFFERENT label — the
    negatives that actually move a contrastive loss (easy negatives are
    free; hard ones must be mined). Anchors here are a bounded query set
    (vec_id < 8, documented); the corpus side is never self-joined.

    Scale: the anchor set broadcasts; scoring is one map-side pass over
    the corpus (Arrow-batched float64 cosine), and the per-anchor top-1
    reduces map-side before the |anchors|-key window. Swapping the
    brute-force scorer for the IVF/PQ candidate path (sim_ann_*) keeps
    the same downstream shape when the corpus is 100 TB."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    scored = e.join(
        F.broadcast(q), F.col("label") != F.col("q_label")
    ).select(
        "q_id",
        "q_label",
        "vec_id",
        "label",
        F.round(cosine_pandas(F.col("qv"), F.col("embedding")), 6).alias(
            "cos_sim"
        ),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            "cos_sim",
        )
    )


@register(
    "sim_ann_recall_audit",
    oracle=f"""
    WITH {_ann_ivf_ctes(8, 2)},
    ann AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 10
    ), exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.q_id
                 ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                          e.vec_id) AS rn
        FROM (SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < 5) q
        CROSS JOIN corpus e
      ) WHERE rn <= 10
    )
    SELECT x.q_id, COUNT(a.vec_id) AS n_hits,
           round(COUNT(a.vec_id) / 10.0, 6) AS recall_at_10
    FROM exact x
    LEFT JOIN ann a ON x.q_id = a.q_id AND x.vec_id = a.vec_id
    GROUP BY x.q_id
    """,
    tags=("llm", "similarity"),
)
def sim_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 evaluation of the IVF index against exact brute force,
    computed IN the engine as one plan — the measurement loop every ANN
    deployment needs before trusting an index (tune n_probe/k_lists
    against this number, not intuition). Per query: how many of the true
    top-10 the probed lists actually surfaced.

    Scale: the exact arm is the bounded-anchor brute-force pass
    (broadcast query matrix, Arrow-batched matmul, per-batch partial
    top-k); the ANN arm is the cluster-id equi-join path; the audit join
    is |queries|x10 rows on both sides. In production the exact arm runs
    over a sampled query panel — same plan, sampled predicate."""
    import numpy as np

    from lagom_kinesis_spark.operators.similarity import (
        batch_topk_cosine,
        embedding_query_panel,
        ivf_topk,
    )

    e = load(spark, sf_dir, "embeddings")
    C = md5_sample_matrix(e, 8)  # 8 × dim quantizer — model-sized collect
    ann = ivf_topk(e, C, F.col("vec_id") < 5, k=10, n_probe=2).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    # |Q| = 5 — bounded panel, driver-side footer read (no Spark job; r9)
    q_ids, _, q_vecs = embedding_query_panel(sf_dir, 5)
    scored = batch_topk_cosine(e, "vec_id", "embedding", q_ids, q_vecs, k=10)
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    exact = (
        scored.select("q_id", "vec_id", r6(F.col("cos_sim")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    return (
        exact.join(F.broadcast(ann), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / 10.0, 6).alias("recall_at_10"),
        )
    )


@register(
    "dedup_cluster_size_histogram",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(
               list_sort(list_distinct(string_split(lower(text), ' '))), ' '
             )) AS group_key
      FROM documents
    ), groups AS (
      SELECT group_key, COUNT(*) AS cluster_size FROM keyed GROUP BY group_key
    ), total AS (SELECT COUNT(*) AS n_docs_total FROM keyed)
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           round(cluster_size * COUNT(*) / CAST(t.n_docs_total AS DOUBLE), 6)
             AS corpus_share
    FROM groups CROSS JOIN total t
    GROUP BY cluster_size, t.n_docs_total
    """,
    # "scalar": the only NLJ is the broadcast 1-row corpus total.
    tags=("llm", "dedup", "scalar"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE headline dedup statistic: the duplicate-cluster size
    distribution — how many clusters of each size exist and what share
    of the corpus they hold (size 1 = unique docs; the tail is the
    near-identical boilerplate a web crawl accumulates). This is the
    report that justifies (or kills) a dedup pass before anyone runs it:
    corpus_share above size 1 IS the removable fraction.

    Scale: two cascaded count-aggregations (doc-key, then size) — the
    second input is cluster-cardinality, tiny; the 1-row total
    broadcasts. Works unchanged over MinHash cluster ids or connected-
    component labels."""
    d = fan_out(load(spark, sf_dir, "documents"))
    groups = (
        d.select(fingerprint("text").alias("group_key"))
        .groupBy("group_key")
        .agg(F.count("*").alias("cluster_size"))
    )
    total = d.agg(F.count("*").alias("n_docs_total"))
    return (
        groups.crossJoin(F.broadcast(total))
        .groupBy("cluster_size", "n_docs_total")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            F.round(
                (F.col("cluster_size") * F.col("n_clusters"))
                / F.col("n_docs_total").cast("double"),
                6,
            ).alias("corpus_share"),
        )
    )


@register(
    "dedup_substring_anchor",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(generate_series(1, len(w) - 7),
                              x -> array_to_string(w[x:x+7], ' ')))) AS g
      FROM w WHERE len(w) >= 8
    ), h AS (
      SELECT doc_id, {sketches.portable_hash_sql("g")} AS h FROM g
    ), o AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS owner FROM h
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE owner < doc_id) AS n_dup_grams,
           round(COUNT(*) FILTER (WHERE owner < doc_id)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM o GROUP BY doc_id
    HAVING 5 * COUNT(*) FILTER (WHERE owner < doc_id) >= COUNT(*)
    """,
    tags=("llm", "dedup", "substring"),
)
def dedup_substring_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication (the Lee et al. 2022
    'Deduplicating Training Data' shape, anchor-hash approximation): every
    distinct 8-token window is hashed and assigned a canonical owner (the
    lowest doc_id containing it); a document whose windows are ≥20% owned
    by earlier documents is flagged with its duplicated fraction — the
    removal worklist for verbatim-overlap dedup, which MinHash (whole-doc
    similarity) misses when a long quote hides inside otherwise-novel text.

    Plan: explode-once to (doc, gram-hash), ONE exchange on the 64-bit
    anchor hash where a window-min computes each gram's owner (no
    gram-keyed self-join), then a doc-keyed partial-agg. Never all-pairs:
    cost is linear in total gram volume at any corpus size, exactly how
    the suffix-array pipeline's distributed approximation is built. The
    integer predicate (5*dups >= grams) keeps the ≥20% gate float-free."""
    d = fan_out(load(spark, sf_dir, "documents"))
    from lagom_kinesis_spark.operators.similarity import portable_token_hash

    grams = d.select(
        "doc_id", F.explode(shingles(tokens("text"), 8)).alias("g")
    ).select("doc_id", portable_token_hash(F.col("g")).alias("h"))
    owned = grams.select(
        "doc_id", F.min("doc_id").over(W.partitionBy("h")).alias("owner")
    )
    n_dup = F.count_if(F.col("owner") < F.col("doc_id"))
    return (
        owned.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            n_dup.alias("n_dup_grams"),
            r6(n_dup / F.count("*")).alias("dup_frac"),
        )
        .filter(5 * F.col("n_dup_grams") >= F.col("n_grams"))
    )


@register(
    "text_lang_confusion",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (
      SELECT lang,
             CASE WHEN len(list_intersect(toks, ['the','and','of'])) > 0 THEN 'en'
                  WHEN len(list_intersect(toks, ['der','und','nicht'])) > 0 THEN 'de'
                  WHEN len(list_intersect(toks, ['el','la','que'])) > 0 THEN 'es'
                  WHEN len(list_intersect(toks, ['le','et','les'])) > 0 THEN 'fr'
                  ELSE 'und' END AS lang_guess
      FROM t
    )
    SELECT lang, lang_guess, COUNT(*) AS n,
           round(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang)
                                 AS DOUBLE), 6) AS row_share
    FROM g GROUP BY lang, lang_guess
    """,
    tags=("llm", "text", "quality"),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the marker-word classifier's guess
    against the labeled ``lang`` column, with per-true-language row shares
    (the diagonal is recall) — the evaluation every classifier in the
    curation stack needs before its output gates data. Classifier errors
    here directly become corpus-mix errors downstream, which is why the
    matrix, not just accuracy, is the report.

    Plan: map-only classification fused into the scan, one (lang, guess)
    hash agg (≤ |langs|² groups), row shares from a window over that tiny
    aggregate — cost is one corpus scan at any scale."""
    d = load(spark, sf_dir, "documents")
    g = d.select("lang", lang_guess_expr(tokens("text")).alias("lang_guess"))
    counts = g.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    return counts.select(
        "lang",
        "lang_guess",
        "n",
        r6(
            F.col("n")
            / F.sum("n").over(W.partitionBy("lang")).cast("double")
        ).alias("row_share"),
    )


@register(
    "dq_freshness_lag",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, make_timestamp(epoch_ns(ts)//1000) AS ts
      FROM events
    ), per_type AS (
      SELECT event_type, MAX(ts) AS latest, COUNT(*) AS n_events
      FROM ev GROUP BY event_type
    ), ref AS (SELECT MAX(latest) AS corpus_latest FROM per_type)
    SELECT event_type, n_events,
           CAST((epoch_us(corpus_latest) - epoch_us(latest)) // 60000000
                AS BIGINT) AS lag_minutes,
           (epoch_us(corpus_latest) - epoch_us(latest)) > 3600000000
             AS stale
    FROM per_type CROSS JOIN ref
    """,
    # "scalar": the only NLJ is the broadcast 1-row corpus-latest row.
    tags=("dq", "scalar"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness audit: each event type's ingestion lag behind the
    freshest feed (exact integer minutes) plus a >1 h staleness flag —
    the watchdog that catches a silently-dead producer long before
    volume alerts do (the reference's transport can stall per-shard;
    SURVEY.md §2A R10 restarts cover crashes, not quiet upstream gaps).

    Plan: one (type) max/count agg over the scan, then a broadcast 1-row
    corpus-max join; integer microsecond arithmetic end to end."""
    e = load(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.max("ts").alias("latest"), F.count("*").alias("n_events")
    )
    ref = per_type.agg(F.max("latest").alias("corpus_latest"))
    lag_us = F.unix_micros(F.col("corpus_latest").cast("timestamp")) - F.unix_micros(
        F.col("latest").cast("timestamp")
    )
    return per_type.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "n_events",
        F.floor(lag_us / 60_000_000).cast("long").alias("lag_minutes"),
        (lag_us > 3_600_000_000).alias("stale"),
    )


@register(
    "sim_ann_ivf_persisted",
    oracle=_ann_ivf_oracle(),
    tags=("llm", "similarity", "scale", "scan"),
)
def sim_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index AT REST: the inverted lists are a parquet layout
    ``partitionBy(cluster)``, and a probe is a PARTITION-PRUNED scan —
    only the probed cluster directories are ever read (PartitionFilters
    carries ``cluster IN (probes)``; plan-asserted). This is the form an
    ANN index takes on a 100 TB lake: build once as a layout, serve
    queries by reading n_probe/k_lists of the data, no index service.

    The probe lists are computed driver-side from the model-sized
    centroid matrix (the same bounded collect every IVF arm does), with
    HALF_UP round-6 + cid tie-break replicated exactly so the pruned
    partitions equal the oracle's probed lists. Same oracle as
    sim_ann_ivf: persistence must not change a single result row."""
    import numpy as np

    from lagom_kinesis_spark.catalog import io_scratch
    from lagom_kinesis_spark.operators.similarity import (
        centroid_rank,
        cosine_pandas,
    )

    e = load(spark, sf_dir, "embeddings")
    C = md5_sample_matrix(e, 8)  # 8 × dim — model-sized driver-safe collect
    ranked = centroid_rank(C)
    assigned = e.select(
        "vec_id", "embedding", ranked[0]["cid"].alias("cluster")
    )
    tmp = io_scratch("ivf_index", sf_dir, source="embeddings")
    # Build-once semantics for real: the layout is deterministic in the
    # fixture (path + mtime/size fingerprint, so a regenerated fixture
    # gets a fresh path instead of a stale adopt), so re-invocations
    # (gate sweep, bench best-of loop) must serve from the existing index
    # — _SUCCESS is the completion marker — or the "probe = pruned read"
    # number silently times the index build.
    import os as _os

    if not _os.path.exists(_os.path.join(tmp, "_SUCCESS")):
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(tmp)
    index = spark.read.parquet(tmp)

    def r6_half_up(x: float) -> float:
        # JVM F.round / DuckDB round are HALF_UP (away from zero);
        # Python's round is banker's — replicate HALF_UP exactly.
        import math

        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    from lagom_kinesis_spark.operators.similarity import embedding_query_panel

    # |Q| = 5 — bounded panel, driver-side footer read (no Spark job; r9)
    q_ids, q_raw, q_vecs = embedding_query_panel(sf_dir, 5)
    cn = np.asarray(C, dtype=np.float64)
    cn = cn / np.linalg.norm(cn, axis=1, keepdims=True)
    probe_rows = []
    for qid, raw, qv in zip(q_ids, q_raw, q_vecs):
        cos = cn @ (qv / np.linalg.norm(qv))
        order = sorted(range(len(cos)), key=lambda c: (-r6_half_up(cos[c]), c))
        for cid in order[:2]:
            probe_rows.append((qid, raw, cid))
    probes = spark.createDataFrame(
        probe_rows, "q_id long, qv array<float>, cluster int"
    )
    pruned = index.filter(
        F.col("cluster").isin(sorted({c for _, _, c in probe_rows}))
    )
    scored = (
        F.broadcast(probes)
        .join(pruned, "cluster")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_pandas(F.col("qv"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 10
    )


@register(
    "dedup_incremental_catalog",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id, md5(text) AS h, source FROM documents WHERE doc_id % 3 = 0
    ), marked AS (
      SELECT b.doc_id, b.source,
             (hist.h IS NOT NULL) AS dup_of_catalog
      FROM batch b LEFT JOIN hist ON b.h = hist.h
    )
    SELECT source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE dup_of_catalog) AS n_dup,
           COUNT(*) FILTER (WHERE NOT dup_of_catalog) AS n_new,
           round(COUNT(*) FILTER (WHERE dup_of_catalog)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_share
    FROM marked GROUP BY source
    """,
    tags=("llm", "dedup", "scan"),
)
def dedup_incremental_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED fingerprint catalog — how a
    growing corpus actually dedupes in production: the historical corpus
    is represented only by its content-hash catalog at rest (here doc_id
    % 3 != 0 plays history, written once as parquet); each incoming batch
    left-joins the catalog and reports, per source, how much of it is
    already known. The catalog is 32 bytes/doc however large history
    grows — the whole point: no re-scan of historical TEXT, ever.

    Plan: catalog build is one distinct over history (one-time, at rest);
    the serving path is scan(batch) ⋈ scan(catalog) on the hash — an
    equi-join of two hash-sized relations, then a source rollup."""
    from lagom_kinesis_spark.catalog import io_scratch

    d = load(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
    )
    tmp = io_scratch("fp_catalog", sf_dir, source="documents")
    # The catalog is history-at-rest: build it once per fixture (_SUCCESS
    # marker; the path carries the fixture's mtime/size fingerprint so a
    # regenerated fixture cannot be served a stale catalog), serve every
    # later batch from the files — rebuilding on each call would be
    # exactly the historical re-scan this op exists to avoid.
    import os as _os

    if not _os.path.exists(_os.path.join(tmp, "_SUCCESS")):
        hist.write.mode("overwrite").parquet(tmp)
    catalog = spark.read.parquet(tmp).withColumn("known", F.lit(True))
    batch = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h")
    )
    marked = batch.join(catalog, "h", "left")
    dup = F.count_if(F.col("known").isNotNull())
    return marked.groupBy("source").agg(
        F.count("*").alias("n_batch"),
        dup.alias("n_dup"),
        F.count_if(F.col("known").isNull()).alias("n_new"),
        r6(dup / F.count("*")).alias("dup_share"),
    )


@register(
    "text_normalize_ws",
    oracle="""
    WITH norm AS (
      SELECT lang, text,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ntext <> text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(length(text) - length(ntext)) AS BIGINT) AS chars_removed
    FROM norm GROUP BY lang
    """,
    tags=("llm", "text"),
)
def text_normalize_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization audit — lowercase + whitespace collapse + trim,
    the first mechanical pass of every web-text pipeline (before dedup,
    so near-identical documents differing only in case/spacing hash
    together). Reports, per language, how many documents the pass
    changes and how many characters it removes — the numbers that tell
    you whether upstream extraction is clean.

    Scale: pure map-only string work fused into the scan (Java regex,
    codegen'd, no UDF), one |langs|-cardinality aggregate. The regex is
    the portable subset ('\\s+' means the same class in Java and RE2);
    DuckDB needs the explicit 'g' flag for replace-all, Spark replaces
    all by default — pinned here so the engines can't diverge."""
    d = load(spark, sf_dir, "documents")
    ntext = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    n = d.select("lang", "text", ntext.alias("ntext"))
    return n.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("ntext") != F.col("text")).cast("long")).alias(
            "n_changed"
        ),
        F.sum(F.length("text") - F.length("ntext"))
        .cast("long")
        .alias("chars_removed"),
    )


@register(
    "sim_mips_norm_prune",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.q_id, e.vec_id,
                  round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 6)
                    AS dot
           FROM q CROSS JOIN embeddings e
         )
    SELECT * FROM (
      SELECT q_id, vec_id, dot,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
    tags=("llm", "similarity", "cross"),
)
def sim_mips_norm_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-10 with Cauchy-Schwarz norm
    pruning — the retrieval mode of un-normalized embedding models
    (recommendation towers, late-interaction scores), where cosine's
    normalization is wrong and the norm bound dot(q,x) ≤ ‖q‖·‖x‖ makes
    most of the corpus provably non-competitive.

    Two declarative phases, exact by construction:
    1. seed: the 50 largest-norm corpus vectors are scored against every
       query; the 10th-best seed score θ_q is a LOWER bound on the true
       10th-best.
    2. prune: only vectors with ‖q‖·‖x‖ ≥ θ_q − 1e-6 can reach the
       top-10 (anything below has dot < θ_q by Cauchy-Schwarz; the 1e-6
       guard keeps candidates within the round-6 tie window); exact dot
       + rank over the surviving sliver.

    Everything is JVM-side expression work: norms and dots via
    zip_with/aggregate over array<double> (no UDF, no matmul library),
    the 5-query panel and the θ table ride broadcast 1-row/5-row joins
    ("cross" tag = the audited bounded-broadcast pattern). Scale: the
    corpus is scanned map-only twice (norm pass + pruned exact pass);
    the candidate set after pruning is data-dependent but the top-50
    seed makes θ tight on real norm distributions (IVF/PQ remain the
    approximate paths)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norm = F.sqrt(dot(F.col("v"), F.col("v")))
    xn = e.select("vec_id", "v", norm.alias("xnorm"))
    q = (
        e.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            norm.alias("qnorm"),
        )
    )
    # Phase 1: exact scores on the 50 largest-norm vectors (5×50 dots).
    seeds = xn.orderBy(F.col("xnorm").desc(), "vec_id").limit(50)
    wq = W.partitionBy("q_id").orderBy(
        F.col("dot").desc(), "vec_id"
    )
    theta = (
        seeds.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", dot(F.col("v"), F.col("qv")).alias("dot"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 10)
        .select("q_id", F.col("dot").alias("theta"))
    )
    # Phase 2: Cauchy-Schwarz prune, exact dot on survivors only.
    qt = q.join(theta, "q_id")
    cand = xn.crossJoin(F.broadcast(qt)).filter(
        F.col("xnorm") * F.col("qnorm") >= F.col("theta") - F.lit(1e-6)
    )
    scored = cand.select(
        "q_id", "vec_id", r6(dot(F.col("v"), F.col("qv"))).alias("dot")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 10)
    )
