"""Similarity / near-duplicate operators: cosine, MinHash-LSH, SimHash, LSH-ANN.

Design for 100 TB (SURVEY.md §7 M5): never a global cartesian product.
Exact all-pairs variants exist only as correctness oracles over small
subsets; the scale paths are *blocked*: candidate pairs come from hash
buckets (MinHash bands / SimHash bands / random-hyperplane buckets), each
bucket is tiny, and the quadratic step happens per-bucket — an equi-join
Catalyst shuffles on the bucket key like any other join.

Everything below is pure DataFrame ops: hashing via ``xxhash64`` (JVM),
dot products via higher-order array functions — no Python in the hot path.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lagom_kinesis_spark.catalog import fixture_fingerprint, path_of


# ---------------------------------------------------------------------------
# Cosine similarity (exact) — higher-order functions, Catalyst-visible
# ---------------------------------------------------------------------------


def embedding_query_panel(sf_dir: str, n: int):
    """The bounded |Q|=n query panel (vec_id < n) read DRIVER-SIDE.

    The panel is by construction driver-resident — every caller collects
    it to a numpy matrix and broadcasts it into an Arrow-batch matmul —
    so fetching it with a Spark job is pure overhead: one
    scan+schedule+collect cost ~0.13 s per query invocation (measured
    r9), where a pyarrow footer-filtered read of the same ≤n rows is
    ~7 ms and caches to zero on the fixture fingerprint. Semantics are
    identical (same rows, same float32 values; ids pinned ascending —
    callers key everything by q_id, so order was never load-bearing).

    Returns (q_ids, raw_lists, q_vecs): ids, the float32 values as
    python lists (for callers that re-ship the raw vectors), and the
    float64 matrix every scoring path uses."""
    return _query_panel(sf_dir, fixture_fingerprint(sf_dir, "embeddings"), n)


@functools.lru_cache(maxsize=32)
def _query_panel(sf_dir: str, _fingerprint: str, n: int):
    import pyarrow.parquet as pq

    t = pq.read_table(
        path_of(sf_dir, "embeddings"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", n)],
    )
    ids = t["vec_id"].to_pylist()
    raw = t["embedding"].to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ids = [int(ids[i]) for i in order]
    raw = [[float(x) for x in raw[i]] for i in order]
    return ids, raw, np.array(raw, dtype=np.float64)


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pandas(a: Column, b: Column) -> Column:
    """Arrow-batched cosine: the hot path for bulk scoring.

    The higher-order-function variant (:func:`cosine`) is Catalyst-visible
    but interpreted per element (~0.2 ms/pair); this one moves whole Arrow
    batches into numpy (float64 BLAS) — measured ~20× faster at sf0.1.
    Inputs are float32 arrays; math is float64, so results agree with a
    double-precision engine to ~1e-15 (absorbed by the round-6 contract).
    """
    @F.pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        A = np.vstack(xs.values).astype(np.float64)
        B = np.vstack(ys.values).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        # A zero-norm vector has no direction: 0/0 would yield NaN, which
        # Spark orders ABOVE every double — a NaN row would win every
        # descending top-k window. Score it -inf so it ranks last,
        # deterministically, instead of poisoning the ranking.
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = num / den
        return pd.Series(np.where(den == 0.0, -np.inf, sims))

    return _cos(a, b)


def batch_topk_cosine(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    q_ids: list,
    q_vecs: "np.ndarray",
    k: int = 10,
    batch_margin: int = 64,
) -> DataFrame:
    """Scored (q_id, vec_id, cos_sim) candidates for exact top-k cosine.

    One ``mapInPandas`` pass over the corpus: each Arrow batch does a single
    (N×d)·(d×|Q|) float64 matmul against the broadcast query matrix — one
    Python call per batch instead of a pandas_udf per (qv, embedding) pair
    (~10× fewer Arrow conversions, no duplicated query arrays per row).

    Each batch emits only its local top ``k + batch_margin`` rows per query
    (partial top-k, the map-side-combine analogue): the final global window
    ranks |batches|·|Q|·(k+margin) rows, not |corpus|·|Q|. The margin
    absorbs post-hoc rounding ties; exactness vs the all-pairs oracle is
    gate-checked. At 100 TB this is a map-only scan + a tiny shuffle.
    """
    qm = np.asarray(q_vecs, dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    keep = k + batch_margin

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].values).astype(np.float64)
            vnorm = np.linalg.norm(V, axis=1, keepdims=True)
            with np.errstate(divide="ignore", invalid="ignore"):
                Vn = V / vnorm
            # Zero-norm corpus vectors: NaN cosines would rank ABOVE every
            # real score in Spark's desc ordering AND survive-or-drop
            # depending on batch size (np.lexsort places NaN last only on
            # the pruned path) — batch-partitioning-dependent results.
            # -inf ranks them last, deterministically.
            Vn = np.where(vnorm == 0.0, 0.0, Vn)
            sims = Vn @ qn.T  # (N, |Q|)
            sims = np.where(vnorm == 0.0, -np.inf, sims)
            ids = pdf[id_col].values
            out = {"q_id": [], "vec_id": [], "cos_sim": []}
            for j in range(sims.shape[1]):
                col = sims[:, j]
                if len(col) > keep:
                    # top-`keep` by (cos desc, vec_id asc) — lexsort keys
                    order = np.lexsort((ids, -col))[:keep]
                else:
                    order = np.arange(len(col))
                out["q_id"].append(np.full(len(order), qid_arr[j]))
                out["vec_id"].append(ids[order])
                out["cos_sim"].append(col[order])
            yield pd.DataFrame(
                {c: np.concatenate(v) for c, v in out.items()}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        score, "q_id long, vec_id long, cos_sim double"
    )


def batch_range_cosine(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    q_ids: list,
    q_vecs: "np.ndarray",
    tau: float,
) -> DataFrame:
    """Scored (q_id, vec_id, cos_sim) pairs with cosine ≥ tau − ε — range
    search over the corpus against a broadcast query matrix.

    Same map-only matmul shape as :func:`batch_topk_cosine`, but the
    per-batch prune is the threshold itself, emitted with an epsilon
    STRICTLY WIDER than the round-6 half-quantum (5e-7) so the final
    Spark-side round(...,6) ≥ tau comparison owns the boundary — a raw
    cosine of tau−4e-7 rounds UP to tau and must survive the prune.
    Output is |matches|, not |corpus|·|Q|."""
    qm = np.asarray(q_vecs, dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    cutoff = tau - 1e-6

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].values).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ qn.T
            ids = pdf[id_col].values
            rows, cols = np.nonzero(sims >= cutoff)
            yield pd.DataFrame(
                {
                    "q_id": qid_arr[cols],
                    "vec_id": ids[rows],
                    "cos_sim": sims[rows, cols],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        score, "q_id long, vec_id long, cos_sim double"
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH over shingle arrays
# ---------------------------------------------------------------------------


def minhash_signatures(
    shingled: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signatures (Broder 1997): per seed i, min over shingles of
    xxhash64(s, i); P(two docs share a min-hash) = their Jaccard similarity.

    Documents whose shingle array is EMPTY (shorter than the n-gram width)
    get no signature — the explode emits nothing — so they can never
    appear in a candidate pair. Consistent with the exact-Jaccard oracle
    (an empty shingle set has Jaccard 0 with everything, including another
    empty set, under the 0/0=0 convention); a pipeline that must also
    dedup ultra-short documents should route them through exact
    fingerprint dedup, where whole-content equality is well-defined.

    Formulated as explode → groupBy(min…): ONE evaluation of the shingle
    array and map-side partial mins before the shuffle — at 100 TB the
    shuffle carries one num_hashes-long row per (partition, doc), never the
    shingles. (A per-row array expression would also inline the shingle
    computation into all min-hash expressions — measured 50×+ slower.)

    Each shingle STRING is hashed exactly once (``__h0``); the per-seed
    family re-hashes the fixed-width 8-byte value, not the string — the
    standard one-hash-then-derive minhash construction, ~linear in corpus
    bytes instead of num_hashes× corpus bytes.
    """
    ex = shingled.selectExpr(
        id_col, f"explode({shingle_col}) AS __sh"
    ).selectExpr(id_col, "xxhash64(__sh) AS __h0")
    # One spark.sql call with the whole aggregate list: building num_hashes
    # Column objects one F.* call at a time costs ~2 py4j roundtrips per
    # hash (~0.4 s of per-query BUILD time at 64 hashes); a single SQL
    # string is one roundtrip with identical semantics (SQL integer
    # literals are INT, same as F.lit(i)).
    aggs = ", ".join(
        f"min(xxhash64(__h0, {i})) AS mh{i}" for i in range(num_hashes)
    )
    return ex.sparkSession.sql(
        f"SELECT {id_col}, {aggs} FROM {{ex}} GROUP BY {id_col}", ex=ex
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash-LSH.

    bands=4 × rows=4 over 16 hashes → P(candidate) = 1-(1-j^4)^4: ~0.97 at
    j=0.8, ~0.04 at j=0.3 — the classic S-curve. Each band is an equi-join
    on the band key; bucket sizes stay small so the per-bucket pairing is
    bounded. Returns distinct (id_a, id_b).
    """
    if num_hashes % bands:
        # Trailing hashes would be computed, aggregated and shuffled but
        # never feed a band — the caller would get a silently weaker
        # S-curve (rows = num_hashes // bands) than the design asked for.
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, id_col, shingle_col, num_hashes)
    # All band keys in ONE pass over the signatures (a per-band union would
    # recompute the signature aggregation once per band per join side — the
    # classic DAG-duplication trap; explode keeps one upstream instance).
    band_keys = ", ".join(
        "xxhash64({b}, {cols})".format(
            b=b,
            cols=", ".join(
                f"mh{i}"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    buckets = sigs.selectExpr(
        id_col, f"explode(array({band_keys})) AS bucket"
    ).persist()  # bands × docs rows of (id, long); released by the
    # registry wrapper's per-query clearCache — at true corpus scale,
    # checkpoint to storage and unpersist explicitly instead
    a = buckets.select(F.col(id_col).alias("id_a"), "bucket")
    b_ = buckets.select(F.col(id_col).alias("id_b"), "bucket")
    # merge-hint: the bucket frame is corpus-sized (bands × docs rows), but
    # a cached frame's pre-materialization stats come from the compressed
    # parquet scan underneath, so the planner can pick a broadcast for this
    # self-join and OOM building a corpus-sized hash relation — the same
    # static-estimate trap measured on the verify join at sf10
    # (.bench/ab_lsh_cc_scale_r12.json, r12). Big⋈big shuffles, always.
    return (
        a.join(b_.hint("merge"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash (Charikar 2002) over token arrays
# ---------------------------------------------------------------------------


#: SimHash signature width. 60 bits = 15 hex chars of md5 — chosen so the
#: token hash is PORTABLE: both Spark (``conv(substr(md5(t),1,15),16,10)``)
#: and DuckDB (hex-digit fold of ``substr(md5(t),1,15)``) compute the
#: identical positive int64, making the whole signature — and therefore the
#: near-dup pair set — exactly reproducible by a SQL oracle.
SIMHASH_BITS = 60


def _hexfold(c: Column) -> Column:
    """portable_token_hash's core as a composable expression: the first 15
    hex chars of md5 folded to a positive int64 — identical in DuckDB via
    the strpos hex-digit fold (see portable_minhash_band_keys_sql)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hexfold_sql(e: str) -> str:
    """The DuckDB mirror of _hexfold over expression text ``e``. Lambda
    var is ``j`` so callers can nest this inside ``s``/``x`` lambdas."""
    return (
        "list_sum(list_transform(range(1, 16), j -> "
        f"(strpos('0123456789abcdef', substr(md5({e}), j, 1)) - 1)::BIGINT "
        "<< (4 * (15 - j))))::BIGINT"
    )


def portable_minhash_band_keys(
    sh: Column, num_hashes: int = 16, bands: int = 4
) -> Column:
    """Banded MinHash keys both engines can compute: an array<string> of
    ``bands`` keys, each 'b_mh..._mh...' over ``num_hashes // bands``
    row-hashes, NULL for empty shingle sets (so empty docs never match
    anything — not even each other).

    The hash family is one-hash-then-derive on the PORTABLE 60-bit md5
    fold (_hexfold): h0 = fold(shingle), mh_i = min over shingles of
    fold(h0_str || '_' || i) — xxhash64 (minhash_signatures' family) is
    Spark-only and could never be replayed by a SQL oracle. Per-ROW
    array expressions, no shuffle: this is the STREAM-friendly form —
    a stateless map any micro-batch can run, where the batch form's
    explode→groupBy(min) needs an aggregation. Both the shingle array
    and the derived h0 array are let-bound (evaluated once per row);
    callers that reference the result more than once should project it
    through an exchange (e.g. the dedup state shuffle) rather than
    re-deriving — projection collapse re-inlines column expressions.

    portable_minhash_band_keys_sql is the same derivation as DuckDB SQL
    — keep the two adjacent; any change lands in both."""
    rows = num_hashes // bands

    def derive(i: int):
        # Closure FACTORY, not a default-arg lambda: ``lambda x, i=i``
        # has two parameters, and PySpark's higher-order-function
        # binding would pass the array INDEX as the second — silently
        # hashing with the element position instead of the seed.
        return lambda x: _hexfold(F.concat_ws("_", x, F.lit(str(i))))

    from lagom_kinesis_spark.functions.helpers import let

    def over_sh(sh_b: Column) -> Column:
        # Double let: the shingle array AND the folded h0 array are each
        # evaluated once per row (h0 referenced by all num_hashes mins —
        # inlining it per seed doubles the md5 work; measured 1.37 s →
        # 0.79 s per 500-doc partition).
        h0 = F.transform(sh_b, lambda s: _hexfold(s).cast("string"))

        def over_h0(h0_b: Column) -> Column:
            mhs = [
                F.array_min(F.transform(h0_b, derive(i)))
                for i in range(num_hashes)
            ]
            return F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(str(b)),
                        *[
                            mhs[b * rows + r].cast("string")
                            for r in range(rows)
                        ],
                    )
                    for b in range(bands)
                ]
            )

        return F.when(F.size(sh_b) > 0, let(h0, over_h0))

    return let(sh, over_sh)


def portable_minhash_band_keys_sql(
    h0_col: str = "h0", num_hashes: int = 16, bands: int = 4
) -> str:
    """DuckDB LIST expression replaying portable_minhash_band_keys over a
    column ``h0_col`` that holds list_transform(sh, s -> CAST(fold AS
    VARCHAR)) — the caller materializes h0 in a CTE (the SQL analogue of
    the let-binding); pass sh-derived NULL handling outside (CASE WHEN
    len(sh) = 0 THEN NULL ...)."""
    rows = num_hashes // bands
    mh = [
        f"list_min(list_transform({h0_col}, x -> "
        + _hexfold_sql(f"(x || '_{i}')")
        + "))"
        for i in range(num_hashes)
    ]
    keys = ", ".join(
        "concat_ws('_', '{b}', {parts})".format(
            b=b,
            parts=", ".join(
                f"CAST({mh[b * rows + r]} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"[{keys}]"


def portable_token_hash(col: Column) -> Column:
    """60-bit deterministic token hash both engines can compute: the first
    15 hex chars of md5 as a positive int64. (xxhash64 would be cheaper but
    exists only in Spark; md5 is the cross-engine common ground and this is
    a per-token cost, amortized by explode-once.)"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame, id_col: str, tokens_col: Column
) -> DataFrame:
    """SimHash (Charikar 2002): bit j of the signature = sign of the
    sum over tokens of ±1, where the sign is bit j of the token hash.
    Near-duplicate docs land within small Hamming distance.

    explode → hash once per token → 60 partial sums → assemble the bitmask:
    the token stream is hashed exactly once and the shuffle carries 60
    small ints per doc (same scale argument as minhash_signatures)."""
    ex = df.select(F.col(id_col), F.explode(tokens_col).alias("__t")).select(
        F.col(id_col), portable_token_hash(F.col("__t")).alias("__h")
    )
    sums = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), sig.alias("sig"))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH for embedding ANN
# ---------------------------------------------------------------------------


def srp_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane components: sign(j,i) from the md5 of
    ``"j:i"``. md5 (not xxhash64) so an external engine — the DuckDB oracle,
    or any re-implementation — can regenerate the identical hyperplanes;
    the matrix is model-sized (planes×dim) and embedded as literals, so the
    per-row cost is a plain dot product with constants."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(num_planes)
    ]


def hyperplane_bucket(vec: Column, dim: int, num_planes: int = 16) -> Column:
    """Sign-random-projection bucket id (Charikar SRP-LSH): bit j = sign of
    <v, h_j> where h_j has deterministic ±1 components (srp_signs).
    Collision probability = 1 - θ/π per bit.

    Expressed as zip_with/aggregate against LITERAL sign arrays — no
    shuffle, no UDF, no per-row hashing; at 100 TB this is a map-only
    projection each executor computes locally. The projection is rounded
    to 6 decimals before the sign test so a last-ulp difference in another
    engine's summation order cannot flip a bucket bit."""
    signs = srp_signs(num_planes, dim)
    bits = []
    for j in range(num_planes):
        sv = F.array(*[F.lit(s) for s in signs[j]])
        proj = F.aggregate(
            F.zip_with(vec, sv, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(F.round(proj, 6) > 0, F.shiftleft(F.lit(1).cast("long"), j))
            .otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for c in bits[1:]:
        out = out.bitwiseOR(c)
    return out


# ---------------------------------------------------------------------------
# IVF-flat ANN: coarse quantizer → inverted lists → probed exact re-rank
# ---------------------------------------------------------------------------


def md5_sample_matrix(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> "np.ndarray":
    """k × dim float64 matrix of the md5-ordered deterministic sample —
    THE quantizer/codebook sampling contract shared by the whole IVF/PQ
    family and replayed verbatim by their DuckDB oracles (order by
    md5(id-as-string), ties to id, take k). One definition so a drive-by
    edit cannot desync some queries from the oracle replay. Model-sized
    driver collect (k ≤ 256): the documented safe collect."""
    rows = (
        corpus.select(id_col, vec_col)
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


def centroid_rank(centroids: "np.ndarray") -> Column:
    """Array of (−round(cos, 6), cid) structs over ``embedding``, ascending
    sorted — element 0 is the vector's nearest centroid, the first
    ``n_probe`` elements are a query's probe list. The raw cosines come
    from one Arrow-batched matmul against the model-sized centroid matrix
    (map-only, no shuffle); rounding and the argmax happen JVM-side with
    ``F.round`` so the tie-break semantics match a SQL engine's ROUND
    exactly (the sim_ann_lsh sign-test discipline)."""
    cn = np.asarray(centroids, dtype=np.float64)
    cn = cn / np.linalg.norm(cn, axis=1, keepdims=True)

    @F.pandas_udf("array<double>")
    def cent_sims(xs: pd.Series) -> pd.Series:
        V = np.vstack(xs.values).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        return pd.Series(list(Vn @ cn.T))

    return F.array_sort(
        F.transform(
            cent_sims(F.col("embedding")),
            lambda c, i: F.struct(
                (-F.round(c, 6)).alias("nc"), i.cast("int").alias("cid")
            ),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: "np.ndarray",
    query_pred: Column,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k cosine: assign every corpus vector to its
    nearest centroid (inverted lists), probe each query's ``n_probe``
    nearest lists, exact-cosine re-rank within the probed lists only.

    The quantizer is pluggable — any (k × dim) centroid matrix: KMeans
    cluster centers or a deterministic data sample behave identically here.
    Scale shape: centroids are model-sized (broadcast with the closure);
    assignment is one Arrow-batched scoring pass (map-only); candidate
    generation is an equi-join on cluster id (bucket-sized, never all
    pairs); only the re-rank window shuffles, over probed candidates only.
    A vector lives in exactly one list, so a (q_id, vec_id) candidate can
    arise from at most one probe — no dedup step needed."""
    ranked = centroid_rank(centroids)
    assigned = corpus.select(
        "vec_id", "embedding", ranked[0]["cid"].alias("cluster")
    )
    probes = (
        corpus.filter(query_pred)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.explode(F.slice(ranked, 1, n_probe)).alias("p"),
        )
        .select("q_id", "qv", F.col("p")["cid"].alias("cluster"))
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "cluster")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_pandas(F.col("qv"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    sub_dim: int = 16,
    n_train: int = 256,
    n_iter: int = 10,
) -> "np.ndarray":
    """Trained (Lloyd's k-means) PQ codebooks — the production-grade
    alternative to the md5-ordered data-sample codebook the registered
    queries use for SQL replayability.

    FAISS-style train-on-sample: a DETERMINISTIC md5-ordered sample of
    ``n_train`` vectors is pulled to the driver (model-sized, the
    documented driver-safe collect discipline), L2-normalized (the
    normalize-for-cosine contract of pq_code_cols), and each of the ``m``
    sub-spaces gets ``n_iter`` Lloyd iterations with md5-order-determined
    initial codewords and lowest-index tie-breaks — fully deterministic,
    no RNG. The returned (m, n_codes, sub_dim) array drops into
    pq_encode / pq_adc_topk / ivfpq_topk unchanged: training swaps the
    MODEL, never the plan (tests/test_operators.py::
    test_pq_trained_codebook_beats_sampled pins both claims). At 100 TB
    the sample is still driver-sized — this is exactly how production PQ
    indexes train."""
    import numpy as np

    X = md5_sample_matrix(corpus, n_train)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    books = np.empty((m, n_codes, sub_dim), dtype=np.float64)
    for s in range(m):
        sub = Xn[:, s * sub_dim : (s + 1) * sub_dim]
        cents = sub[:n_codes].copy()  # md5-order init: first n_codes rows
        for _ in range(n_iter):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)  # lowest index on ties
            for j in range(n_codes):
                pts = sub[assign == j]
                if len(pts):  # empty cluster keeps its codeword
                    cents[j] = pts.mean(axis=0)
        books[s] = cents
    return books


def pq_encode(corpus: DataFrame, codebooks: "np.ndarray") -> DataFrame:
    """(vec_id, code_0..code_{m-1}): product-quantization codes.

    ``codebooks`` is (m, n_codes, sub_dim): subspace ``s`` of each vector
    (its dims ``[s*sub_dim, (s+1)*sub_dim)``) is assigned the codeword
    with the smallest round-6 squared L2 distance (ties to the lowest
    codeword id — the deterministic-argmin discipline shared with
    ivf_topk). Entirely JVM column expressions — one map-only pass, no
    Python boundary; the codebook is literal-embedded (model-sized),
    which is also what makes the whole encoding SQL-replayable.
    """
    return corpus.select(F.col("vec_id"), *pq_code_cols(codebooks))


def pq_code_cols(codebooks: "np.ndarray") -> list:
    """The m aliased ``code_s`` column expressions of :func:`pq_encode` —
    exposed so compositions (ivfpq_topk) can compute codes in the same
    projection as other per-vector columns instead of re-joining.

    Vectors are L2-NORMALIZED before slicing (and ``codebooks`` must come
    from normalized samples): on the unit sphere squared-L2 ordering is
    exactly inverse cosine ordering (L2² = 2 − 2cos), which is what makes
    PQ's L2-based ADC an honest approximation of the family's cosine
    ranking — the FAISS normalize-for-cosine discipline."""
    m, n_codes, sub_dim = codebooks.shape
    raw = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(raw, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    # let-bind the norm so the transform body references the evaluated
    # scalar O(1) times instead of inlining the 64-term sum per element.
    from lagom_kinesis_spark.functions.helpers import let

    v = let(nrm, lambda n: F.transform(raw, lambda x: x / n))
    cols = []
    for s in range(m):
        sub = F.slice(v, s * sub_dim + 1, sub_dim)
        cands = []
        for j in range(n_codes):
            cw = F.array(*[F.lit(float(x)) for x in codebooks[s, j]])
            d = F.aggregate(
                F.zip_with(sub, cw, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            cands.append(
                F.struct(F.round(d, 6).alias("d"), F.lit(j).alias("j"))
            )
        cols.append(
            F.array_min(F.array(*cands)).getField("j").alias(f"code_{s}")
        )
    return cols


def _adc_table(qv: "np.ndarray", codebooks: "np.ndarray") -> list:
    """Per-query (m × n_codes) subspace squared-distance table — ONE
    definition shared by pq_adc_topk and ivfpq_topk so the load-bearing
    ADC construction cannot drift between the two (both must also match
    the generated SQL oracle's per-subspace d_r terms)."""
    m, n_codes, sub_dim = codebooks.shape
    return [
        [
            float(((qv[s * sub_dim : (s + 1) * sub_dim] - codebooks[s, j]) ** 2).sum())
            for j in range(n_codes)
        ]
        for s in range(m)
    ]


def _adc_expr(m: int) -> Column:
    """Asymmetric distance: per-term F.round (HALF_UP, same as SQL ROUND)
    BEFORE the fixed-order m-term sum, then a final round-6 — the
    order-determinism discipline that lets an unordered SQL SUM oracle
    match exactly (already-quantized addends cannot shift a rank)."""
    return F.round(
        sum(
            F.round(
                F.element_at(F.element_at("tab", s + 1), F.col(f"code_{s}") + 1), 6
            )
            for s in range(m)
        ),
        6,
    )


def _topk_by_adc(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (round-6 ADC asc, vec_id) — the shared tie-pinned
    ranking of both PQ paths."""
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def pq_adc_topk(
    corpus: DataFrame,
    codebooks: "np.ndarray",
    q_ids: list,
    q_vecs: "np.ndarray",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k: PQ codes on the corpus side, exact query
    slices against the codebook on the query side.

    Per query the (m × n_codes) subspace-distance table is precomputed
    (driver-side numpy over the bounded query set) and broadcast; each
    corpus row then costs m array lookups + a sum — the PQ promise:
    distance evaluation touches only the code bytes, never the original
    vector. Approximation error is the quantization residual; ranking is
    by round-6 ADC ascending with vec_id tie pins. Each table entry is
    rounded to 6 decimals BEFORE the m-term sum (the code-assignment
    discipline), so the summation order — here vs the SQL oracle's
    unordered SUM — operates on already-quantized addends and cannot
    shift a rank.
    """
    m = codebooks.shape[0]
    coded = pq_encode(corpus, codebooks)
    qm = np.asarray(q_vecs, dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)  # unit sphere, as corpus
    rows = [
        (int(qid), _adc_table(qm[qi], codebooks)) for qi, qid in enumerate(q_ids)
    ]
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(rows, "q_id long, tab array<array<double>>")
    scored = coded.crossJoin(F.broadcast(qdf)).select(
        "q_id", "vec_id", _adc_expr(m).alias("adc")
    )
    return _topk_by_adc(scored, k)


def ivfpq_topk(
    corpus: DataFrame,
    centroids: "np.ndarray",
    codebooks: "np.ndarray",
    q_ids: list,
    q_vecs: "np.ndarray",
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ (the FAISS production composition): IVF prunes WHICH vectors
    are scored — each query probes its ``n_probe`` nearest inverted
    lists — and PQ compresses HOW: within probed lists, ranking reads
    asymmetric distances from the per-query (m × n_codes) table against
    4-byte codes, never the raw vectors.

    One corpus projection computes the cluster id and the PQ codes
    together (no re-join); the query side is a model-sized broadcast of
    (probe cluster, ADC table) rows with probes chosen by the same
    round-6 cosine/lowest-cid rule as the corpus assignment. Scale: after
    this projection the scored relation carries cluster + m code bytes
    per vector — candidate generation is a cluster equi-join and the only
    shuffle is the final per-query top-k window.
    """
    m = codebooks.shape[0]
    ranked = centroid_rank(centroids)
    assigned = corpus.select(
        "vec_id", ranked[0]["cid"].alias("cluster"), *pq_code_cols(codebooks)
    )
    qm = np.asarray(q_vecs, dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)  # unit sphere, as corpus
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    rows = []
    for qi, qid in enumerate(q_ids):
        qv = qm[qi]
        # HALF_UP at 6 decimals via shortest-repr Decimal — the EXACT
        # float→round rule Spark's F.round applies corpus-side
        # (BigDecimal.valueOf(double).setScale(6, HALF_UP)); np.round is
        # half-to-even and diverges on representable midpoints.
        import decimal

        cos = np.array(
            [
                float(
                    decimal.Decimal(repr(float(x))).quantize(
                        decimal.Decimal("1e-6"), decimal.ROUND_HALF_UP
                    )
                )
                for x in cn @ qv
            ]
        )
        # n_probe nearest lists by (round-6 cosine desc, cid asc) — the
        # same deterministic rule centroid_rank applies corpus-side.
        order = np.lexsort((np.arange(len(cos)), -cos))[:n_probe]
        tab = _adc_table(qv, codebooks)
        for cid in order:
            rows.append((int(qid), int(cid), tab))
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        rows, "q_id long, cluster int, tab array<array<double>>"
    )
    scored = assigned.join(F.broadcast(qdf), "cluster").select(
        "q_id", "vec_id", _adc_expr(m).alias("adc")
    )
    return _topk_by_adc(scored, k)
