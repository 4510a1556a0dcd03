"""Similarity search over embedding columns (array<float>).

Two plans:

* ``emb_knn_bruteforce`` — exact top-k cosine for a bounded query set.
  The query side is tiny → **broadcast**; the corpus streams past it, so
  the plan is one narrow pass over the corpus + a top-k window. At 100 TB
  this is the right exact baseline: no corpus shuffle at all, cost
  |corpus| × |queries| × dim fused in codegen.
* ``emb_lsh_ann`` — sign-random-projection (hyperplane) LSH: 8 fixed
  ±1 hyperplanes (deterministically derived from md5, identical constants
  inlined into the oracle SQL) bucket every vector into a 8-bit key;
  candidates are bucket-mates; top-k within bucket. The join shuffles on
  the bucket key only — the scale path when the query set is itself huge.

All arithmetic is float32→float64 cast then sequential double ops — the
Spark higher-order functions and DuckDB's list functions produce
bit-identical doubles (verified), so cosine ranks agree exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.iterate import hash_min_labels
from ..sources.corpus import (
    ensure_min_parallelism,
    read_table,
    session_artifact,
)

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
N_PLANES = 8
DIM = 64


def _plane(p: int) -> list[float]:
    """Deterministic ±1 hyperplane components from md5(p:j)."""
    out = []
    for j in range(DIM):
        h = hashlib.md5(f"{p}:{j}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
    return out


N_TABLES = 16            # OR-amplification: 16 independent 4-plane tables
                         # (sized empirically: recall 0.966 of the exact
                         # sim>=0.4 pair set at sf0.01; 2 tables gave 0.31)
PLANES_PER_TABLE = 4

PLANES: list[list[float]] = [
    _plane(p) for p in range(max(N_PLANES, N_TABLES * PLANES_PER_TABLE))
]


def _dot(a: Column, b: Column) -> Column:
    # zip_with+aggregate, deliberately: an unrolled 64-term element_at
    # chain was measured 6× SLOWER at DIM=64 (r7 microbench — unlike
    # the 8-term grid L1 sum, 64 terms are past the codegen sweet
    # spot), so the fold stays.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lifted to default parallelism (r7): the similarity scans feed
    # DIM-wide scoring chains and the toy embeddings parquet is a
    # single split (guide §2.6); no-op at scale. Gated on input size
    # like media_frame: below ~4 MB the exchange outweighs the serial
    # scoring it parallelizes.
    return ensure_min_parallelism(
        spark, sf_dir,
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        min_bytes=4 << 20,
        table="embeddings",
    )


def _topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Two-phase exact top-k per query — the de-skewed final stage.

    A single ``Window.partitionBy("query_id")`` over the full scored set
    funnels every scored row into ≤|queries| reducer partitions — fine at
    sf0.1, a scale-killer when a 100-TB corpus is scored against a small
    query set. Phase 1 ranks within (input partition, query) — the
    exchange key ``(pid, query_id)`` spreads over n_partitions×|queries|
    buckets — and keeps ≤k rows per key; phase 2 ranks the surviving
    ≤n_partitions×|queries|×k rows per query. Exactness: the per-query
    sort key (sim DESC, neighbor_id ASC) is total (neighbor_id unique),
    so the global top-k is a subset of the union of phase-1 top-ks.
    """
    order = (F.desc("sim"), F.asc("neighbor_id"))
    local = Window.partitionBy("pid", "query_id").orderBy(*order)
    final = Window.partitionBy("query_id").orderBy(*order)
    pruned = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrank", F.row_number().over(local))
        .filter(F.col("lrank") <= k)
        .drop("pid", "lrank")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set × streamed corpus."""
    vecs = _vectors(spark, sf_dir)
    queries = F.broadcast(
        vecs.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("q")
        )
    )
    scored = (
        vecs.join(queries, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))))
            .alias("sim"),
        )
    )
    return _topk(scored)


def _bucket(v: Column) -> Column:
    """8-bit sign-projection bucket key."""
    key = F.lit(0)
    for p, plane in enumerate(PLANES[:N_PLANES]):
        arr = F.array(*[F.lit(x) for x in plane])
        key = key + F.when(_dot(v, arr) > 0, F.lit(2**p)).otherwise(F.lit(0))
    return key


def emb_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH buckets: candidates share the 8-bit key;
    exact cosine re-rank within bucket, top-k per query."""
    vecs = _vectors(spark, sf_dir).withColumn("bucket", _bucket(F.col("v")))
    queries = F.broadcast(
        vecs.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q"),
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        vecs.join(
            queries,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))))
            .alias("sim"),
        )
    )
    return _topk(scored)


NEARDUP_THRESHOLD = 0.4  # sf-series embeddings have no planted dups; 0.4
                         # yields a non-trivial pair set (59 exact at sf0.01)
NLIST = 16               # IVF coarse lists
NPROBE = 4               # IVF probed lists per query


def make_bucket_udf():
    """Arrow kernel: embedding → all N_TABLES 4-bit keys at once.

    The JVM higher-order-function form (aggregate/zip_with per plane)
    is interpreted per lambda step — 64 planes × 64 dims ≈ 12k
    expression evaluations PER ROW, which dominated the whole query.
    The kernel instead accumulates **sequentially over dimensions,
    vectorized over rows** (``acc += M[:, j] * sign[j]`` for j = 0..63)
    — the identical IEEE double-add order as Spark's ``F.aggregate``
    left fold and DuckDB's ``list_dot_product``, so bucket signs are
    bit-identical across all three forms (never ``np.dot``, whose
    blocked/pairwise summation can flip a near-zero sign)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(
        PLANES[: N_TABLES * PLANES_PER_TABLE], dtype=np.float64
    ).T  # dim × planes

    @pandas_udf("array<int>")
    def all_buckets(vs):  # pd.Series -> pd.Series (PEP-563-safe: no hints)
        M = np.stack(vs.to_numpy())  # rows × dim
        acc = np.zeros((M.shape[0], P.shape[1]))
        for j in range(M.shape[1]):
            acc += M[:, j : j + 1] * P[j]
        bits = (acc > 0).astype(np.int64)
        keys = np.zeros((M.shape[0], N_TABLES), dtype=np.int64)
        for t in range(N_TABLES):
            for k in range(PLANES_PER_TABLE):
                keys[:, t] += bits[:, t * PLANES_PER_TABLE + k] << k
        return pd.Series(list(keys.astype(np.int32)))

    return all_buckets


GEMM_GUARD = 1e-6  # prefilter margin — 9 orders above any fp-order drift
GEMM_BLOCK_ELEMS = 4_000_000  # ≈32 MB of float64 scores per GEMM chunk


def make_bucket_pairs_kernel(threshold: float):
    """applyInPandas kernel: ONE LSH bucket's vectors → candidate id
    pairs whose BLAS-estimated cosine clears ``threshold − GEMM_GUARD``.

    This replaces the (ids-only self-join → 200M-row dropDuplicates →
    vector re-join → Arrow pair verify) chain whose cost at sf1 was
    dominated by shuffling the quadratic candidate set and shipping
    two 64-double vectors per candidate through Arrow (measured: 202 s
    for the dedup exchange alone, 363 s end-to-end). Here the
    quadratic object NEVER leaves the task that created it: each
    bucket's vectors cross Arrow once (|bucket| rows), one BLAS GEMM
    scores all pairs in-core, and only near-threshold survivors (a few
    rows per hot doc) are emitted into the dedup.

    GEMM uses blocked/pairwise summation, so its sums differ from the
    sequential fold the oracle and the exact verify use by ~1e-15 —
    which is why it is only a PREFILTER with a 1e-6 guard band: no
    pair whose exact cosine clears the threshold can be dropped, and
    every emitted pair is re-scored by the order-exact pair kernel
    before the final exact threshold. Output is bit-identical to the
    pre-optimization plan at every scale.

    The GEMM is row-blocked (GEMM_BLOCK_ELEMS score cells per chunk,
    ≈32 MB): a skewed hot bucket of 100k rows would need ~80 GB for
    the full |bucket|² score matrix in one task; chunking caps peak
    task memory at O(block·n) while emitting the identical survivor
    set — graceful degradation instead of an executor OOM."""
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        M = np.stack(pdf["v"].to_numpy())
        M = M / pdf["nrm"].to_numpy()[:, None]
        ids = pdf["vec_id"].to_numpy()
        blk = max(1, GEMM_BLOCK_ELEMS // n)
        out_a, out_b = [], []
        for i0 in range(0, n - 1, blk):
            i1 = min(i0 + blk, n)
            S = M[i0:i1] @ M.T  # (i1-i0) × n score slab
            ii, jj = np.nonzero(S >= threshold - GEMM_GUARD)
            gi = ii + i0
            keep = jj > gi  # strict upper triangle only
            gi, jj = gi[keep], jj[keep]
            out_a.append(np.minimum(ids[gi], ids[jj]))
            out_b.append(np.maximum(ids[gi], ids[jj]))
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else
                np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else
                np.array([], dtype=np.int64),
            }
        )

    return kernel


def make_pair_cos_udf():
    """Arrow kernel for the exact-cosine verify over candidate pairs:
    dot accumulated sequentially over dims (vectorized over pairs),
    then / (na*nb) — the same double ops in the same order as the
    JVM fold and the DuckDB oracle, evaluated at Arrow-batch speed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cos(va, vb, na, nb):  # 4×pd.Series -> pd.Series
        A = np.stack(va.to_numpy())
        B = np.stack(vb.to_numpy())
        acc = np.zeros(A.shape[0])
        for j in range(A.shape[1]):
            acc += A[:, j] * B[:, j]
        return pd.Series(acc / (na.to_numpy() * nb.to_numpy()))

    return pair_cos


@session_artifact
def _neardup_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(vecs-with-norm, exploded (vec_id, t, bk) bucket side), pinned
    once per session instead of a per-invocation persist that
    accumulated pinned storage across bench/check loops."""
    vecs = (
        _vectors(spark, sf_dir)
        .withColumn("nrm", _norm(F.col("v")))
        .persist()
    )
    bucket_udf = make_bucket_udf()
    side = vecs.select(
        "vec_id", F.posexplode(bucket_udf(F.col("v"))).alias("t", "bk")
    ).persist()
    return vecs, side


def emb_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    Scale path for "find all pairs with cosine ≥ t" without the O(n²)
    self-join: every vector gets one 4-bit key per hash table; candidate
    pairs share a key in ANY table (OR-amplification boosts recall, the
    union is deduped); exact cosine verifies. Each per-table self-join
    shuffles on its bucket key only — at 100 TB the joins are
    bucket-local and the verify is a narrow projection. Table count is
    a recall dial at linear cost: 16×4 planes recover 0.966 of the
    exact ``sim>=0.4`` pair set at sf0.01 (pinned by
    test_dedup_similarity's recall assertion). At production near-dup
    thresholds (0.85+) the per-bit agreement probability rises from
    0.63 to >0.9, so far fewer tables buy the same recall — the 0.4
    threshold here is the adversarially hard case.
    """
    # one narrow pass computes every table key; one posexplode groups
    # vectors by the composite (table, key). The quadratic candidate
    # set is scored INSIDE each bucket's task by a BLAS GEMM prefilter
    # (make_bucket_pairs_kernel) and never shuffled: the r5 sf1
    # profile showed the previous ids-only self-join spending 202 s
    # just deduplicating 206M candidate rows before verifying 127M
    # pairs through Arrow. Now only near-threshold survivors (≈0.05%
    # of candidates here) reach the dedup + exact verify, and the
    # exchange carries |V|·N_TABLES vector rows once. The per-task
    # working set stays quadratic in BUCKET size — exactly the bound
    # the old join had — and a hot bucket is the same AQE-skew case.
    # The GEMM is a prefilter only (guard band 1e-6): every emitted
    # pair is re-scored by the order-exact Arrow pair kernel below, so
    # results are bit-identical to the join-based plan.
    # Norms are precomputed per ROW: dot/(na*nb) with cached na/nb is
    # the identical double computation, evaluated |V| not |cand| times.
    vecs, side = _neardup_frames(spark, sf_dir)
    grp = side.join(vecs, "vec_id").select("t", "bk", "vec_id", "v", "nrm")
    pairs = (
        grp.groupBy("t", "bk")
        .applyInPandas(
            make_bucket_pairs_kernel(NEARDUP_THRESHOLD),
            "id_a long, id_b long",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    a = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pair_cos = make_pair_cos_udf()
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            pair_cos(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= NEARDUP_THRESHOLD)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )



EMB_DECON_MOD = 97        # vec_id % MOD == 0 -> held-out benchmark side
EMB_DECON_THRESHOLD = 0.4  # the adversarial no-planted-dups regime,
                           # same rationale as NEARDUP_THRESHOLD


def emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space twin of
    doc_decontaminate: flag every corpus vector whose cosine to ANY
    held-out benchmark vector clears the threshold. Shingle/exact
    decontamination misses paraphrased eval leakage; this is the
    standard embedding-side sweep training pipelines run next to it.

    Scale shape: the benchmark side is eval-suite-sized by definition,
    so it BROADCASTS (the one sanctioned cross join, like the capped
    holdout candidate universe) and the corpus side streams ONCE
    through the order-exact Arrow pair kernel — linear in the corpus,
    no LSH required, no shuffle at all beyond the scan. Cosines reuse
    the sequential-fold kernel, so sims are bit-identical to the
    DuckDB oracle."""
    vecs = _vectors(spark, sf_dir).withColumn("nrm", _norm(F.col("v")))
    bench = F.broadcast(
        vecs.filter(F.col("vec_id") % EMB_DECON_MOD == 0).select(
            F.col("vec_id").alias("bench_id"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
    )
    corpus = vecs.filter(F.col("vec_id") % EMB_DECON_MOD != 0).select(
        "vec_id", F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    pair_cos = make_pair_cos_udf()
    return (
        corpus.crossJoin(bench)
        .select(
            "vec_id",
            "bench_id",
            pair_cos(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= EMB_DECON_THRESHOLD)
        .select("vec_id", "bench_id", F.round("sim", 6).alias("sim"))
    )


EMB_CLUSTER_ROUNDS = 3


@session_artifact
def emb_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup clusters: hash-min label propagation
    (EMB_CLUSTER_ROUNDS bounded rounds, the doc_dedup_clusters /
    kg_components plan) over the embedding cosine near-dup pair graph
    — the deliverable of embedding dedup: each clustered vector with
    its cluster label (= min vec_id in the component) and a survivor
    flag. Deterministic: min over integer ids; the pair graph itself
    is the already-parity-checked emb_cosine_neardup output."""
    pairs = emb_cosine_neardup(spark, sf_dir).select("id_a", "id_b")
    # joined every round: checkpointed (not persisted) so the rounds
    # do not re-analyze the bucket self-join + cosine verify plan, for
    # the reason plans.iterate.iterate gives
    und = pairs.select(
        F.col("id_a").alias("subject"), F.col("id_b").alias("object")
    ).unionAll(
        pairs.select(F.col("id_b").alias("subject"),
                     F.col("id_a").alias("object"))
    ).localCheckpoint(eager=True)
    lbl = hash_min_labels(und, EMB_CLUSTER_ROUNDS)
    return lbl.select(
        F.col("id").alias("vec_id"),
        F.col("lbl").alias("cluster"),
        (F.col("id") == F.col("lbl")).alias("is_survivor"),
    )


def _emb_cluster_sql() -> str:
    parts = [
        "p AS (SELECT id_a, id_b FROM nd)",
        "und AS (SELECT id_a AS a, id_b AS b FROM p "
        "UNION ALL SELECT id_b AS a, id_a AS b FROM p)",
        "l0 AS (SELECT DISTINCT a AS vec_id, a AS lbl FROM und)",
    ]
    for k in range(EMB_CLUSTER_ROUNDS):
        parts.append(
            f"l{k + 1} AS (SELECT vec_id, min(lbl) AS lbl FROM ("
            f"SELECT vec_id, lbl FROM l{k} "
            f"UNION ALL "
            f"SELECT und.a AS vec_id, l{k}.lbl AS lbl "
            f"FROM und JOIN l{k} ON und.b = l{k}.vec_id"
            f") GROUP BY vec_id)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT vec_id, lbl AS cluster, vec_id = lbl AS is_survivor "
        f"FROM l{EMB_CLUSTER_ROUNDS}"
    )


def emb_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: coarse quantizer + probed inverted lists.

    The codebook is fixed and deterministic (the NLIST lowest vec_ids —
    a stand-in for offline-trained k-means centroids) and broadcast.
    Assignment is one narrow broadcast pass + map-side max_by (no
    window shuffle); queries probe their NPROBE nearest lists, so the
    candidate join shuffles on list_id only — the corpus is read once
    and re-ranked exactly within probed lists.
    """
    vecs = _vectors(spark, sf_dir)
    cents = F.broadcast(
        vecs.filter(F.col("vec_id") < NLIST).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
        )
    )
    sim_to_c = (_dot(F.col("v"), F.col("c")) /
                (_norm(F.col("v")) * _norm(F.col("c"))))
    # argmax centroid per vector: max_by on (sim, -centroid_id) ⇒ ties
    # break to the lowest centroid_id, matching the oracle's row_number
    assigned = (
        vecs.join(cents, F.lit(True))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(sim_to_c.alias("s"), (-F.col("centroid_id")).alias("t")),
            ).alias("list_id"),
            F.first("v").alias("v"),
        )
    )
    probes = F.broadcast(
        vecs.filter(F.col("vec_id") < N_QUERIES)
        .join(cents, F.lit(True))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q"),
            "centroid_id",
            sim_to_c.alias("csim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("csim"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("crank") <= NPROBE)
        .select("query_id", "q", F.col("centroid_id").alias("list_id"))
    )
    scored = (
        assigned.join(probes, "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("q"), F.col("v")) / (_norm(F.col("q")) * _norm(F.col("v"))))
            .alias("sim"),
        )
    )
    return _topk(scored)


def _planes_sql(p: int) -> str:
    return "[" + ", ".join(f"{x:.1f}" for x in PLANES[p]) + "]"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_planes_sql(p)}) > 0 THEN {2**p} ELSE 0 END)"
    for p in range(N_PLANES)
)


def _table_bucket_sql(table: int) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, "
        f"{_planes_sql(table * PLANES_PER_TABLE + k)}) > 0 "
        f"THEN {2**k} ELSE 0 END)"
        for k in range(PLANES_PER_TABLE)
    )

def _neardup_cands_sql() -> str:
    """Shared by the emb_cosine_neardup and emb_dedup_clusters oracles
    — one definition of the 16-table bucket candidate chain so an
    N_TABLES/bucket change cannot diverge between pair list and
    cluster roll-up."""
    buckets = ", ".join(
        f"{_table_bucket_sql(t)} AS b{t}" for t in range(N_TABLES)
    )
    any_bucket = " OR ".join(f"a.b{t} = b.b{t}" for t in range(N_TABLES))
    return f"""vecs AS (
  SELECT vec_id, v, {buckets}
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM vecs a JOIN vecs b
    ON ({any_bucket})
   AND a.vec_id < b.vec_id
)"""


SIM_ORACLES = {
    "emb_knn_bruteforce": f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.v', 'c.v')} AS sim
  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= {TOP_K}
""",
    "emb_lsh_ann": f"""
WITH vecs AS (
  SELECT vec_id, v, {_BUCKET_SQL} AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.v', 'c.v')} AS sim
  FROM vecs q JOIN vecs c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= {TOP_K}
""",
    "emb_decontaminate": f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id AS bench_id, v AS vb FROM vecs
      WHERE vec_id % {EMB_DECON_MOD} = 0),
c AS (SELECT vec_id, v AS va FROM vecs WHERE vec_id % {EMB_DECON_MOD} <> 0)
SELECT c.vec_id, b.bench_id, round({_cos_sql('va', 'vb')}, 6) AS sim
FROM c CROSS JOIN b
WHERE {_cos_sql('va', 'vb')} >= {EMB_DECON_THRESHOLD}
""",
    "emb_cosine_neardup": f"""
WITH {_neardup_cands_sql()}
SELECT id_a, id_b, round({_cos_sql('va', 'vb')}, 6) AS sim
FROM cands
WHERE {_cos_sql('va', 'vb')} >= {NEARDUP_THRESHOLD}
""",
    "emb_dedup_clusters": f"""
WITH {_neardup_cands_sql()},
nd AS (
  SELECT id_a, id_b FROM cands WHERE {_cos_sql('va', 'vb')} >= {NEARDUP_THRESHOLD}
),
{_emb_cluster_sql()}
""",
    "emb_ivf_ann": f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, v AS c FROM vecs
          WHERE vec_id < {NLIST}),
assigned AS (
  SELECT vec_id, v, centroid_id AS list_id FROM (
    SELECT vecs.vec_id, vecs.v, cents.centroid_id,
           row_number() OVER (
             PARTITION BY vecs.vec_id
             ORDER BY {_cos_sql('vecs.v', 'cents.c')} DESC, cents.centroid_id ASC
           ) AS r
    FROM vecs CROSS JOIN cents
  ) WHERE r = 1
),
probes AS (
  SELECT query_id, q, centroid_id AS list_id FROM (
    SELECT vecs.vec_id AS query_id, vecs.v AS q, cents.centroid_id,
           row_number() OVER (
             PARTITION BY vecs.vec_id
             ORDER BY {_cos_sql('vecs.v', 'cents.c')} DESC, cents.centroid_id ASC
           ) AS crank
    FROM vecs CROSS JOIN cents
    WHERE vecs.vec_id < {N_QUERIES}
  ) WHERE crank <= {NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {_cos_sql('p.q', 'a.v')} AS sim
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= {TOP_K}
""",
}

SIM_QUERIES = {
    "emb_knn_bruteforce": emb_knn_bruteforce,
    "emb_lsh_ann": emb_lsh_ann,
    "emb_cosine_neardup": emb_cosine_neardup,
    "emb_decontaminate": emb_decontaminate,
    "emb_ivf_ann": emb_ivf_ann,
    "emb_dedup_clusters": emb_dedup_clusters,
}
