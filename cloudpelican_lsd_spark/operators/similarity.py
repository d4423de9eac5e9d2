"""Similarity search over embedding columns (`array<float>`).

North-star extension (not in the reference): approximate-nearest-neighbor
for LLM-data pipelines.

- **Brute-force cosine top-k** is the correctness baseline: queries ×
  candidates with per-row vector math in higher-order functions (zip_with
  product fold — JVM codegen, no Python).  The queries side is tiny →
  ``broadcast`` → no shuffle of the candidate corpus, and TopK per query is
  a window row_number (TakeOrdered per partition under AQE).
- **Sign-LSH bucketed variant** is the scale path: an 8-bit random-
  hyperplane sketch (here: sign of the first 8 dims — deterministic and
  oracle-reproducible) buckets vectors so the self-join only meets within
  buckets.  At 100 TB swap the sign bits for seeded random hyperplanes and
  multiple tables; the plan shape (equi-join on bucket) is unchanged.

All math is promoted to DOUBLE before any fold so Spark and DuckDB produce
bit-identical sums (float32 accumulation would diverge); cosine is rounded
to 6 decimals only to absorb reassociation ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
)


def _with_norm(emb: DataFrame) -> DataFrame:
    """(vec_id, emb DOUBLE[], nrm) — norms precomputed once.

    Zero-norm vectors are dropped: cosine is undefined for them, and under
    ANSI mode (Spark 4 default) the division would abort the whole job.
    The oracles carry the same ``nrm > 0`` predicate.

    The scan is ``_spread`` (guide §2.5 "input skew: one huge file →
    repartition after the read"): every consumer feeds the 64-term dot /
    bucket / quantization chains, whose per-row CPU a single-split scan
    serializes onto one core (measured sf0.1: dedup_embedding_cosine ran
    its whole pair chain in ONE 2.0 s task; margin_scoring's candidate
    probe 1.9 s, both shuffle-read 0).  ``_spread`` is a no-op whenever
    the scan already has >= defaultParallelism splits — the 100 TB read
    path keeps zero added exchanges.
    """
    from cloudpelican_lsd_spark.operators.dedup import _spread

    emb = _spread(emb)
    return emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.expr(
            "sqrt(" + _DOT.format(a="cast(embedding as array<double>)",
                                  b="cast(embedding as array<double>)") + ")"
        ).alias("nrm"),
        *([c for c in emb.columns if c not in ("vec_id", "embedding")]),
    ).where(F.col("nrm") > 0)


def cosine_topk(
    emb: DataFrame, num_queries: int = 10, k: int = 10
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (vec_id < num_queries),
    self excluded.  `(qid, cid, cos)` with deterministic tie-break."""
    base = _with_norm(emb)
    q = base.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    pairs = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .withColumn(
            "cos",
            F.round(
                F.expr(_DOT.format(a="qemb", b="cemb"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ),
        )
        .select("qid", "cid", "cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cos")
    )


def cosine_topk_oracle(num_queries: int = 10, k: int = 10) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb,
         sqrt({dot.format(a='emb', b='emb')}) AS nrm
  FROM e
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         ROUND({dot.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 6) AS cos
  FROM n q JOIN n c ON q.vec_id < {num_queries} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT qid, cid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
  FROM pairs
)
SELECT qid, cid, cos FROM ranked WHERE rn <= {k}"""


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors are assigned to their
    nearest centroid; a query probes only the `nprobe` nearest centroid
    lists.  `(qid, cid, cos)`.

    Centroids are the first `n_centroids` vectors — deterministic, so the
    oracle can replay the exact same index (production would k-means and
    broadcast the trained centroids; the plan shape is identical: one
    broadcast join for assignment, one shuffle keyed by centroid).
    At 100 TB the win is the candidate reduction: each query scans
    ~nprobe/n_centroids of the corpus instead of all of it.
    """
    base = _with_norm(emb)
    cents = base.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    scored = base.select("vec_id", "emb", "nrm").join(F.broadcast(cents)).withColumn(
        "ccos",
        F.round(
            F.expr(_DOT.format(a="emb", b="cemb")) / (F.col("nrm") * F.col("cnrm")),
            6,
        ),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    assign = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "cent_id", "emb", "nrm")
    )
    probes = (
        scored.where(F.col("vec_id") < num_queries)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("qid"), "cent_id",
                F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm"))
    )
    cands = probes.join(assign, "cent_id").where(
        F.col("qid") != F.col("vec_id")
    )
    pairs = cands.withColumn(
        "cos",
        F.round(
            F.expr(_DOT.format(a="qemb", b="emb")) / (F.col("qnrm") * F.col("nrm")),
            6,
        ),
    ).select("qid", F.col("vec_id").alias("cid"), "cos")
    w_top = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cos")
    )


def ivf_topk_oracle(
    n_centroids: int = 8, nprobe: int = 2, num_queries: int = 10, k: int = 10
) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb, sqrt({dot.format(a='emb', b='emb')}) AS nrm FROM e
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
cents AS (
  SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm FROM n
  WHERE vec_id < {n_centroids}
),
scored AS (
  SELECT n.vec_id, n.emb, n.nrm, c.cent_id,
         ROUND({dot.format(a='n.emb', b='c.cemb')} / (n.nrm * c.cnrm), 6) AS ccos
  FROM n, cents c
),
assign AS (
  SELECT vec_id, cent_id, emb, nrm FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS qid, cent_id, emb AS qemb, nrm AS qnrm FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id ASC) AS rn
    FROM scored WHERE vec_id < {num_queries}
  ) WHERE rn <= {nprobe}
),
pairs AS (
  SELECT p.qid, a.vec_id AS cid,
         ROUND({dot.format(a='p.qemb', b='a.emb')} / (p.qnrm * a.nrm), 6) AS cos
  FROM probes p JOIN assign a ON a.cent_id = p.cent_id
  WHERE p.qid <> a.vec_id
)
SELECT qid, cid, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, cid ASC) AS rn
  FROM pairs
) WHERE rn <= {k}"""


def sign_lsh_bucket(emb_col: str = "emb", bits: int = 8) -> F.Column:
    """Deterministic sign-bit sketch over the first `bits` dims.

    ``try_element_at``: plain element_at on a vector shorter than `bits`
    ABORTS under ANSI mode, while the DuckDB oracle's `emb[j]` yields
    NULL → CASE → 0; try_element_at gives Spark the same NULL → IF-false
    → 0 behavior, so short vectors bucket identically in both engines.

    (Production variant: seeded random hyperplanes — same plan shape.)
    """
    terms = " + ".join(
        f"IF(try_element_at({emb_col}, {j + 1}) > 0D, {1 << j}, 0)"
        for j in range(bits)
    )
    return F.expr(f"({terms})").alias("bucket")


def lsh_near_pairs(
    emb: DataFrame, bits: int = 8, min_cos_num: int = 4, min_cos_den: int = 10
) -> DataFrame:
    """Near-duplicate vector pairs: same sign-LSH bucket AND cosine >=
    num/den.  `(vec_a, vec_b, cos)` — the bucket equi-join avoids the
    O(n²) cross product; recall is tunable via multiple hash tables."""
    base = _with_norm(emb).select(
        "vec_id", "emb", "nrm", sign_lsh_bucket("emb", bits)
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .withColumn(
            "cos",
            F.round(
                F.expr(_DOT.format(a="a.emb", b="b.emb"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ),
        )
        .where(F.col("cos") * min_cos_den >= min_cos_num)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cos",
        )
    )


def lsh_near_pairs_oracle(
    bits: int = 8, min_cos_num: int = 4, min_cos_den: int = 10
) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    bucket = " + ".join(
        f"(CASE WHEN emb[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb,
         sqrt({dot.format(a='emb', b='emb')}) AS nrm,
         ({bucket}) AS bucket
  FROM e
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND({dot.format(a='a.emb', b='b.emb')} / (a.nrm * b.nrm), 6) AS cos
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos FROM pairs
WHERE cos * {min_cos_den} >= {min_cos_num}"""


def ivf_recall(
    emb: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
) -> DataFrame:
    """ANN-accuracy audit: recall@k of the IVF probe search against the
    brute-force cosine ground truth, per query — `(qid, n_hits, k,
    recall)`.  The tuning loop for (n_centroids, nprobe) before a large
    run, mirroring the MinHash estimate-vs-true audit (dedup.py).

    Plan shape: both rankings are per-query top-k tables (num_queries × k
    rows); the audit join is trivially broadcast-able and the heavy
    lifting stays in the two underlying searches, which share the
    normalized-embedding scan."""
    bf = cosine_topk(emb, num_queries=num_queries, k=k)
    approx = ivf_topk(
        emb, n_centroids=n_centroids, nprobe=nprobe,
        num_queries=num_queries, k=k,
    ).select(F.col("qid").alias("i_qid"), F.col("cid").alias("i_cid"))
    hits = bf.join(
        F.broadcast(approx),
        (F.col("i_qid") == F.col("qid")) & (F.col("i_cid") == F.col("cid")),
        "left",
    )
    return (
        hits.groupBy("qid")
        .agg(F.count(F.col("i_cid")).alias("n_hits"))
        .select(
            "qid",
            "n_hits",
            F.lit(k).cast("long").alias("k"),
            (F.col("n_hits").cast("double") / F.lit(k)).alias("recall"),
        )
    )


def ivf_recall_oracle(
    n_centroids: int = 8, nprobe: int = 2, num_queries: int = 10, k: int = 10
) -> str:
    bf = cosine_topk_oracle(num_queries, k)
    ivf = ivf_topk_oracle(n_centroids, nprobe, num_queries, k)
    return f"""WITH bf AS (SELECT * FROM ({bf}) t),
ivf AS (SELECT * FROM ({ivf}) t)
SELECT bf.qid,
       CAST(COUNT(i.cid) AS BIGINT) AS n_hits,
       CAST({k} AS BIGINT) AS k,
       CAST(COUNT(i.cid) AS DOUBLE) / {k} AS recall
FROM bf LEFT JOIN ivf i ON i.qid = bf.qid AND i.cid = bf.cid
GROUP BY bf.qid"""


def ivf_probe_sweep(
    emb: DataFrame,
    n_centroids: int = 8,
    probes: tuple[int, ...] = (1, 2, 4),
    num_queries: int = 10,
    k: int = 10,
) -> DataFrame:
    """`(nprobe, n_hits, n_truth, recall)` — the IVF TUNING CURVE:
    corpus-level recall@k against the brute-force truth for every probe
    count in one pass (the ANN analogue of dedup's threshold_sweep —
    the number an engineer reads before fixing nprobe for a 100 TB
    run).

    One probe ranking up to max(probes) serves every sweep point: each
    (query, candidate) pair carries the MINIMUM centroid-rank at which
    the candidate becomes visible, and recall at nprobe=p counts truth
    rows whose rank <= p.  That equals recall of the per-probe IVF
    top-k without recomputing it: with the shared (cos DESC, cid ASC)
    ordering, any truth row inside the candidate set is necessarily
    inside the candidate top-k — only globally-higher-ranked rows (all
    of them truth rows themselves) can precede it.

    Plan shape: the two searches share the normalized-embedding scan;
    the sweep explodes only the (num_queries x k) truth table by the
    constant probe list — no extra corpus scan per sweep point."""
    max_p = max(probes)
    bf = cosine_topk(emb, num_queries=num_queries, k=k)
    base = _with_norm(emb)
    cents = base.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    scored = base.select("vec_id", "emb", "nrm").join(
        F.broadcast(cents)
    ).withColumn(
        "ccos",
        F.round(
            F.expr(_DOT.format(a="emb", b="cemb")) / (F.col("nrm") * F.col("cnrm")),
            6,
        ),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    assign = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("cent_id", F.col("vec_id").alias("a_vid"))
    )
    probed = (
        scored.where(F.col("vec_id") < num_queries)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= max_p)
        .select(F.col("vec_id").alias("p_qid"), "cent_id",
                F.col("rn").alias("prank"))
    )
    cand_rank = (
        probed.join(assign, "cent_id")
        .where(F.col("p_qid") != F.col("a_vid"))
        .groupBy("p_qid", "a_vid")
        .agg(F.min("prank").alias("prank"))
    )
    hits = bf.join(
        F.broadcast(cand_rank),
        (F.col("p_qid") == F.col("qid")) & (F.col("a_vid") == F.col("cid")),
        "left",
    ).withColumn("np", F.explode(F.array(*[F.lit(p) for p in probes])))
    return (
        hits.groupBy(F.col("np").cast("long").alias("nprobe"))
        .agg(
            F.sum(
                F.when(F.col("prank") <= F.col("np"), 1).otherwise(0)
            ).alias("n_hits"),
            F.count(F.lit(1)).alias("n_truth"),
        )
        .select(
            "nprobe",
            "n_hits",
            "n_truth",
            (F.col("n_hits").cast("double") / F.col("n_truth").cast("double"))
            .alias("recall"),
        )
    )


def ivf_probe_sweep_oracle(
    n_centroids: int = 8,
    probes: tuple[int, ...] = (1, 2, 4),
    num_queries: int = 10,
    k: int = 10,
) -> str:
    max_p = max(probes)
    plist = ", ".join(str(p) for p in probes)
    bf = cosine_topk_oracle(num_queries, k)
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH bf AS (SELECT * FROM ({bf}) t),
e2 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
n2 AS (
  SELECT vec_id, emb, sqrt({dot.format(a='emb', b='emb')}) AS nrm FROM e2
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
cents AS (
  SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm FROM n2
  WHERE vec_id < {n_centroids}
),
scored AS (
  SELECT n2.vec_id, c.cent_id,
         ROUND({dot.format(a='n2.emb', b='c.cemb')} / (n2.nrm * c.cnrm), 6)
           AS ccos
  FROM n2, cents c
),
assign AS (
  SELECT cent_id, vec_id AS a_vid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
probed AS (
  SELECT vec_id AS p_qid, cent_id, rn AS prank FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id ASC) AS rn
    FROM scored WHERE vec_id < {num_queries}
  ) WHERE rn <= {max_p}
),
cand_rank AS (
  SELECT p.p_qid, a.a_vid, MIN(p.prank) AS prank
  FROM probed p JOIN assign a USING (cent_id)
  WHERE p.p_qid <> a.a_vid
  GROUP BY p.p_qid, a.a_vid
),
pr AS (SELECT UNNEST([{plist}]) AS np)
SELECT CAST(pr.np AS BIGINT) AS nprobe,
       COALESCE(SUM(CASE WHEN cr.prank <= pr.np THEN 1 ELSE 0 END), 0)::BIGINT
         AS n_hits,
       COUNT(*)::BIGINT AS n_truth,
       CAST(COALESCE(SUM(CASE WHEN cr.prank <= pr.np THEN 1 ELSE 0 END), 0)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM bf
LEFT JOIN cand_rank cr ON cr.p_qid = bf.qid AND cr.a_vid = bf.cid
CROSS JOIN pr
GROUP BY pr.np"""


# ---------------------------------------------------------------------------
# Persisted IVF index + incremental query path
# ---------------------------------------------------------------------------


def _score_against_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Cross every vector with the broadcast centroid set and score the
    rounded cosine (`ccos`) — the one expression shared by index build
    and query probing, so the two can never disagree on an assignment."""
    return vecs.join(F.broadcast(cents)).withColumn(
        "ccos",
        F.round(
            F.expr(_DOT.format(a="emb", b="cemb"))
            / (F.col("nrm") * F.col("cnrm")),
            6,
        ),
    )


def normalize_vectors(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """`(<id_col>, emb DOUBLE[], nrm)` from an `(<id_col>, embedding)`
    frame — the one normalization used by index build, append, and
    query paths (zero-norm vectors dropped; cosine is undefined for
    them and ANSI mode would abort the division)."""
    return df.select(
        id_col,
        F.col("embedding").cast("array<double>").alias("emb"),
        F.expr(
            "sqrt(" + _DOT.format(a="cast(embedding as array<double>)",
                                  b="cast(embedding as array<double>)") + ")"
        ).alias("nrm"),
    ).where(F.col("nrm") > 0)


def assign_to_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """`(cent_id, vec_id, emb, nrm)` — nearest-centroid assignment of
    already-normalized vectors, shared by the one-time index build and
    every incremental append so the two can never fork."""
    scored = _score_against_centroids(vecs, cents)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("cent_id", "vec_id", "emb", "nrm")
    )


def build_ivf_index(
    emb: DataFrame, n_centroids: int = 8
) -> tuple[DataFrame, DataFrame]:
    """`(centroids, assignments)` — the embedding analogue of the dedup
    band-signature index (dedup.incremental_near_dup_pairs): built ONCE
    over the corpus, persisted, and equi-joined by every later query
    batch instead of re-scanning raw embeddings.

    - centroids `(cent_id, cemb, cnrm)`: ``n_centroids`` rows, broadcast
      at query time.  Deterministic (the first ``n_centroids`` vectors)
      so the DuckDB oracle replays the exact same index; production
      swaps in trained k-means centroids with an identical plan shape.
    - assignments `(cent_id, vec_id, emb, nrm)`: one row per corpus
      vector with its nearest-centroid list id, embedding, and
      precomputed norm.  Persist with :func:`write_ivf_index` (bucketed
      on `cent_id`) and the daily query join reads the index co-located
      with ZERO index-side shuffle.

    At 100 TB: re-running ivf_topk over corpus+batch re-normalizes and
    re-assigns the entire history every day; this index is written once
    (the norms and assignments are the expensive full scans) and each
    1000×-smaller query batch probes it incrementally.
    """
    if n_centroids < 1:
        raise ValueError(
            f"n_centroids={n_centroids}: an IVF index needs at least one "
            "centroid — an empty centroid set would build an empty index "
            "and every query would silently return nothing"
        )
    base = _with_norm(emb)
    cents = base.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    assign = assign_to_centroids(base.select("vec_id", "emb", "nrm"), cents)
    return cents, assign


def write_ivf_index(
    emb: DataFrame,
    table: str,
    path: str,
    n_centroids: int = 8,
    num_buckets: int = 8,
    layout: str = "partitioned",
) -> None:
    """Persist the IVF index: centroids as plain parquet under
    ``<path>/centroids`` (tiny, broadcast on read) and assignments as
    catalog table ``table`` under ``<path>/assign`` in one of two
    layouts:

    - ``"partitioned"`` (default): directory-PARTITIONED by `cent_id` —
      the true IVF scan contract.  A query batch probes nprobe cells,
      and Spark's dynamic partition pruning (the probe side broadcasts)
      restricts the index SCAN to exactly those cells: at production
      shape (thousands of centroids, nprobe in the dozens) each batch
      reads ~nprobe/n_centroids of a corpus-sized table instead of all
      of it — the dominant cost at 100 TB.  DPP is plan-pinned in
      tests.  Appends are partition-local file adds.
    - ``"bucketed"``: hash-bucketed + bucket-sorted on `cent_id` — no
      scan pruning, but a HUGE backfill batch that degrades the join to
      sort-merge meets the index with no Exchange and no Sort on the
      index side (same contract as the dedup band index).  Pick this
      only when query batches are routinely too big to broadcast AND
      probe most cells anyway."""
    cents, assign = build_ivf_index(emb, n_centroids)
    cents.write.mode("overwrite").parquet(path + "/centroids")
    if layout == "partitioned":
        (
            assign.write.partitionBy("cent_id")
            .option("path", path + "/assign")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(table)
        )
    elif layout == "bucketed":
        from cloudpelican_lsd_spark.sources.bucketed import write_bucketed

        write_bucketed(
            assign, table, ["cent_id"], num_buckets, path=path + "/assign",
            sort=True,
        )
    else:
        raise ValueError(f"unknown IVF index layout: {layout!r}")


def append_to_ivf_index(
    batch: DataFrame,
    cents: DataFrame,
    table: str,
    num_buckets: int = 8,
    layout: str = "partitioned",
) -> None:
    """Index MAINTENANCE: assign a NEW ingestion batch `(vec_id,
    embedding)` to the EXISTING centroids and append its rows to the
    persisted bucketed assignment table — tomorrow's query batch then
    sees today's vectors without any corpus re-scan (the embedding
    analogue of appending the day's bands to the dedup band index).

    Only the batch is normalized and scored (broadcast centroids); the
    append writes with the SAME layout spec, so the table's contract
    survives — partition-local file adds for the partitioned layout,
    matching bucketBy/sortBy for the bucketed one (Spark rejects a
    mismatched spec loudly).  Centroids stay fixed between retrains —
    the standard IVF maintenance trade: assignment drift is an audit
    concern (ivf_recall), not a correctness one, since probing uses the
    same centroids the rows were assigned under."""
    assign = assign_to_centroids(normalize_vectors(batch), cents)
    if layout == "partitioned":
        (
            assign.write.partitionBy("cent_id")
            .format("parquet")
            .mode("append")
            .saveAsTable(table)
        )
    elif layout == "bucketed":
        (
            assign.write.bucketBy(num_buckets, "cent_id")
            .sortBy("cent_id")
            .format("parquet")
            .mode("append")
            .saveAsTable(table)
        )
    else:
        raise ValueError(f"unknown IVF index layout: {layout!r}")


def read_ivf_index(
    spark, table: str, path: str
) -> tuple[DataFrame, DataFrame]:
    """Read back a persisted IVF index: `(centroids, assignments)`.
    Assignments come through the catalog (``spark.table``) so the
    bucketed output partitioning survives — a plain ``read.parquet``
    would see the same rows but lose the zero-shuffle join contract."""
    return spark.read.parquet(path + "/centroids"), spark.table(table)


def assert_ivf_index_compatible(
    cents: DataFrame,
    assign: DataFrame,
    n_centroids: int = 8,
    dim: int = 64,
) -> None:
    """Fail fast when a persisted IVF index doesn't match what the query
    side is about to assume — a dimension mismatch makes every dot
    product raise (or worse, silently score garbage if dims coincide),
    and a centroid-count mismatch probes the wrong lists so recall
    silently collapses.  Mirrors dedup.assert_band_index_compatible:
    one bounded collect on the (tiny) centroid side + one limit(1)
    sample of the assignment side; run once at job startup."""
    crows = cents.select("cent_id", F.size("cemb").alias("d")).collect()
    if len(crows) != n_centroids:
        raise ValueError(
            f"IVF index incompatible: {len(crows)} centroids persisted, "
            f"caller expects n_centroids={n_centroids}"
        )
    bad = [r for r in crows if r.d != dim]
    if bad:
        raise ValueError(
            f"IVF index incompatible: centroid {bad[0].cent_id} has "
            f"dim {bad[0].d}, caller expects dim={dim}"
        )
    sample = assign.select(
        "cent_id", F.size("emb").alias("d")
    ).limit(1).collect()
    if not sample:
        return  # empty index: vacuously compatible
    if sample[0].d != dim:
        raise ValueError(
            f"IVF index incompatible: assignment vectors have dim "
            f"{sample[0].d}, caller expects dim={dim}"
        )
    if not (0 <= sample[0].cent_id < n_centroids):
        raise ValueError(
            f"IVF index incompatible: assignment cent_id "
            f"{sample[0].cent_id} outside [0, {n_centroids})"
        )


def ivf_index_topk(
    queries: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """`(qid, cid, cos)` — top-k neighbors of a NEW query batch against
    the **persisted IVF index**, the incremental production retrieval
    shape.  ``queries`` is `(qid, embedding)` — vectors not in the index
    (a fresh ingestion batch, user queries); only they are normalized
    and scored here, the corpus contributes its index rows untouched.

    Plan: queries × broadcast centroids → top-``nprobe`` probe list per
    query (a window over the small batch), then the probe list
    equi-joins the assignment table on `cent_id`.  The join strategy is
    deliberately left to Catalyst/AQE: a typical (small) query batch
    broadcasts at runtime — zero index-side movement — and against the
    default PARTITIONED layout of :func:`write_ivf_index` dynamic
    partition pruning restricts the index SCAN to the probed cells
    (plan-pinned), so each batch reads ~nprobe/n_centroids of the
    corpus table instead of scanning it all; a huge backfill batch
    degrades to a sort-merge join, where the alternative bucketed
    layout contributes NO Exchange and NO Sort on the index side (also
    plan-pinned).  Guard a param/layout mismatch with
    :func:`assert_ivf_index_compatible`."""
    if nprobe < 1 or k < 1:
        raise ValueError(
            f"nprobe={nprobe}, k={k}: both must be >= 1 — zero probes or "
            "zero results silently return an empty frame for every query"
        )
    qn = normalize_vectors(queries, id_col="qid")
    scored = _score_against_centroids(qn, cents)
    w_probe = Window.partitionBy("qid").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    probes = (
        scored.withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= nprobe)
        .select(
            "qid", "cent_id",
            F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm"),
        )
    )
    cands = assign.join(probes, "cent_id")
    pairs = cands.withColumn(
        "cos",
        F.round(
            F.expr(_DOT.format(a="qemb", b="emb"))
            / (F.col("qnrm") * F.col("nrm")),
            6,
        ),
    ).select("qid", F.col("vec_id").alias("cid"), "cos")
    w_top = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("cid").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "cos")
    )


def ivf_index_topk_oracle(
    n_centroids: int = 8,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
    id_offset: int = 100_000,
) -> str:
    """Oracle for the incremental index query with the batch = the first
    ``num_queries`` corpus vectors re-ingested under ids shifted by
    ``id_offset`` (each must at minimum retrieve its byte-identical
    origin at cos 1.0 — the same planted lower bound the dedup
    incremental query uses)."""
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb, sqrt({dot.format(a='emb', b='emb')}) AS nrm FROM e
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
cents AS (
  SELECT vec_id AS cent_id, emb AS cemb, nrm AS cnrm FROM n
  WHERE vec_id < {n_centroids}
),
assign AS (
  SELECT cent_id, vec_id, emb, nrm FROM (
    SELECT n.vec_id, n.emb, n.nrm, c.cent_id,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY ROUND({dot.format(a='n.emb', b='c.cemb')}
                            / (n.nrm * c.cnrm), 6) DESC,
                      c.cent_id ASC) AS rn
    FROM n, cents c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id + {id_offset} AS qid, emb AS qemb, nrm AS qnrm FROM n
  WHERE vec_id < {num_queries}
),
probes AS (
  SELECT qid, cent_id, qemb, qnrm FROM (
    SELECT q.qid, q.qemb, q.qnrm, c.cent_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY ROUND({dot.format(a='q.qemb', b='c.cemb')}
                            / (q.qnrm * c.cnrm), 6) DESC,
                      c.cent_id ASC) AS rn
    FROM q, cents c
  ) WHERE rn <= {nprobe}
),
pairs AS (
  SELECT p.qid, a.vec_id AS cid,
         ROUND({dot.format(a='p.qemb', b='a.emb')} / (p.qnrm * a.nrm), 6) AS cos
  FROM probes p JOIN assign a ON a.cent_id = p.cent_id
)
SELECT qid, cid, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, cid ASC) AS rn
  FROM pairs
) WHERE rn <= {k}"""


# ---------------------------------------------------------------------------
# k-means assignment step (cluster prototypes → nearest-centroid)
# ---------------------------------------------------------------------------


def kmeans_assign_confusion(emb: DataFrame) -> DataFrame:
    """One k-means assignment step with the per-label mean vectors as
    centroids: every vector is assigned to its nearest centroid by cosine,
    and the result is the `(label, assigned_label, cnt)` confusion — the
    primitive behind IVF training, cluster-balance audits, and
    label-vs-cluster agreement scoring.

    Determinism (the interesting part — float k-means is normally NOT
    hash-comparable across engines): all vector math happens in exact
    integer fixed point.  Elements quantize to floor(v·1e7); the centroid
    mean re-quantizes to floor(c·1e4).  Dots and squared norms are then
    BIGINT sums of BIGINT products — associative, partitioning-independent
    — and the final cosine is a single sqrt/divide chain of exact inputs
    (each IEEE op correctly rounded, so bit-identical on any engine),
    rounded to 6 decimals before the argmax.

    Physical shape: one posexplode scan feeds BOTH the centroid agg (tiny:
    labels × dim rows) and the dot-product join; centroids broadcast back,
    so the only full-data shuffles are the (vec_id, clabel)-keyed partial
    sums.  At 100 TB with k centroids this is the standard brute-force
    assign — swap in ivf_topk's bucketing when k is large.
    """
    assigned = nearest_centroid_assign(emb)
    return assigned.groupBy(
        "label", F.col("clabel").alias("assigned_label")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def nearest_centroid_assign(emb: DataFrame) -> DataFrame:
    """`(vec_id, label, clabel)` — each vector's nearest per-label-mean
    centroid by cosine, in the exact fixed-point arithmetic documented on
    :func:`kmeans_assign_confusion` (which is now a groupBy over this).
    Shared by the confusion audit and the SemDeDup-style semantic prune,
    so the two can never disagree on cluster membership."""
    scored = _fixed_point_scores(emb)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("clabel").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "clabel")
    )

def semantic_prune(
    emb: DataFrame, tau_num: int = 3, tau_den: int = 10, pair_blocks: int = 8
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space, then prune near-duplicate vectors WITHIN
    each cluster — the all-pairs cosine search collapses to per-cluster
    pair joins, which is what makes embedding dedup tractable at corpus
    scale.

    Policy (deterministic, one pass): a vector is DROPPED iff some
    lower-id vector in the same cluster has cosine >= tau_num/tau_den
    with it (greedy keep-first; the transitive-closure variant is
    dedup_clusters' connected components).  Output: per-cluster
    `(cluster, n_members, n_dropped, n_kept)`.

    Exactness: the threshold decision never touches floats —
    `den² · dot² >= num² · |a|² · |b|²` with the quantized BIGINT dot
    (floor(v·1e7) elements, |dot| <= 64·1e14) squared in DECIMAL(38,0)
    (max ~4e33, exact; DuckDB's HUGEINT twin is 128-bit).  `dot > 0`
    guards the sign since both sides are squared.

    100 TB shape: cluster assignment is the broadcast-centroid argmax
    (one data shuffle), the pair join is equi-keyed on `clabel` — no
    all-pairs anywhere; per-pair dot is a JVM zip_with fold over the two
    64-element arrays, so pair rows never explode into element rows.

    Pair-join parallelism (r8, guide §2.5): `clabel` alone is a LOW-
    CARDINALITY, size-skewed join key — per-key work is QUADRATIC in
    cluster size while exchange bytes are linear, so both AQE coalescing
    (bytes-based) and AQE skew-join (bytes-based, join-output-blind)
    undercount it; measured at sf0.1 the whole 400k-pair evaluation ran
    as ONE 3.7 s task.  Each side is therefore block-salted
    DETERMINISTICALLY (`pmod(vec_id, pair_blocks)`): side `a` carries
    its own block `ba` replicated across every partner block `bb`, side
    `b` the mirror, and the join keys become `(clabel, ba, bb)` —
    `k·pair_blocks²` keys, each holding exactly the (x, y) pairs with
    `pmod(x)=ba, pmod(y)=bb`, so every qualifying pair appears exactly
    once and the result is bit-identical.  Cost: each member row crosses
    the exchange `pair_blocks` times (compact rows, bounded, scale-
    independent); benefit: per-task pair work drops by pair_blocks² and
    a degenerate giant cluster can no longer serialize onto one core at
    ANY scale.  The exchanges use an explicit partition count
    (`keyed_repartition`) for the same AQE-undercount reason.
    Measured sf0.1: 3.4 s → 1.26 s median (order-alternated A/B,
    outputs bit-identical).
    """
    from cloudpelican_lsd_spark.operators.textstats import keyed_repartition

    assigned = nearest_centroid_assign(emb).select("vec_id", "clabel")
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.floor(v * 10000000).cast("long"),
        ).alias("qa"),
    ).withColumn(
        "vn",
        F.aggregate(
            F.zip_with(F.col("qa"), F.col("qa"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    members = q.join(assigned, "vec_id")
    nb = int(pair_blocks)
    # block columns are cast to INT on BOTH sides (r9, ADVICE): pmod over
    # a BIGINT vec_id is bigint while explode(sequence(...)) is int — the
    # mixed types made the join keys need casts, so EnsureRequirements
    # stacked a second hashpartitioning exchange on (clabel, ba,
    # cast(bb)) directly after each REPARTITION_BY_NUM exchange, which is
    # AQE-byte-coalescible: exactly the undercount failure
    # keyed_repartition exists to pin.  With matching ints the explicit
    # exchange satisfies the join's required clustering as-is.
    blk = lambda c: F.pmod(c, F.lit(nb)).cast("int")  # noqa: E731
    a = keyed_repartition(
        members.withColumn("ba", blk(F.col("vec_id")))
        .withColumn("bb", F.explode(F.expr(f"sequence(0, {nb - 1})"))),
        "clabel", "ba", "bb",
    ).alias("a")
    b = keyed_repartition(
        members.withColumn("bb", blk(F.col("vec_id")))
        .withColumn("ba", F.explode(F.expr(f"sequence(0, {nb - 1})"))),
        "clabel", "ba", "bb",
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.clabel") == F.col("b.clabel"))
        & (F.col("a.ba") == F.col("b.ba"))
        & (F.col("a.bb") == F.col("b.bb"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.clabel").alias("clabel"),
        F.col("b.vec_id").alias("hi_id"),
        F.aggregate(
            F.zip_with(F.col("a.qa"), F.col("b.qa"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dot"),
        F.col("a.vn").alias("vna"),
        F.col("b.vn").alias("vnb"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dup = pairs.where(
        (F.col("dot") > 0)
        & (
            dec("dot") * dec("dot") * F.lit(tau_den * tau_den)
            >= dec("vna") * dec("vnb") * F.lit(tau_num * tau_num)
        )
    )
    dropped = dup.groupBy("clabel").agg(
        F.count_distinct(F.col("hi_id")).alias("n_dropped")
    )
    # count off the assignment side, not `members`: every assigned vec_id
    # exists in q (q is all vectors), so the per-cluster counts are
    # identical and this consumer skips re-evaluating the quantization
    # join.  The assignment chain itself still feeds three consumers
    # (both self-join sides + this count); at real scale, materialize
    # `nearest_centroid_assign` first (checkpoint.materialize, durable
    # once a checkpoint dir is set) and the plan collapses to one
    # assignment pass.
    sizes = assigned.groupBy("clabel").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        sizes.join(dropped, "clabel", "left")
        .select(
            F.col("clabel").alias("cluster"),
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (
                F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0))
            ).cast("long").alias("n_kept"),
        )
    )


def semantic_prune_oracle(
    tau_num: int = 3, tau_den: int = 10, dim: int = 64
) -> str:
    """DuckDB twin: identical assignment chain + HUGEINT pair decision."""
    return f"""WITH ex AS (
  SELECT vec_id, label, i AS pos,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
cent AS (
  SELECT label AS clabel, pos,
         floor((SUM(qv)::DOUBLE / COUNT(*) / 1e7) * 10000)::BIGINT AS qc
  FROM ex GROUP BY label, pos
),
cnorm AS (SELECT clabel, SUM(qc * qc) AS cn FROM cent GROUP BY clabel),
vnorm AS (SELECT vec_id, SUM(qv * qv) AS vn FROM ex GROUP BY vec_id),
dots AS (
  SELECT e.vec_id, c.clabel, SUM(e.qv * c.qc) AS dot
  FROM ex e JOIN cent c ON c.pos = e.pos
  GROUP BY e.vec_id, c.clabel
),
scored AS (
  SELECT d.vec_id, d.clabel,
         ROUND(d.dot::DOUBLE / (sqrt(v.vn::DOUBLE) * sqrt(n.cn::DOUBLE)), 6)
           AS cos
  FROM dots d
  JOIN vnorm v ON v.vec_id = d.vec_id
  JOIN cnorm n ON n.clabel = d.clabel
  WHERE v.vn > 0 AND n.cn > 0
),
assigned AS (
  SELECT vec_id, clabel
  FROM (SELECT vec_id, clabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, clabel ASC) AS rn
        FROM scored)
  WHERE rn = 1
),
members AS (
  SELECT a.vec_id, a.clabel, v.vn
  FROM assigned a JOIN vnorm v ON v.vec_id = a.vec_id
),
pair_dots AS (
  SELECT ma.clabel, mb.vec_id AS hi_id,
         SUM(ea.qv * eb.qv) AS dot,
         ANY_VALUE(ma.vn) AS vna, ANY_VALUE(mb.vn) AS vnb
  FROM members ma
  JOIN members mb ON mb.clabel = ma.clabel AND ma.vec_id < mb.vec_id
  JOIN ex ea ON ea.vec_id = ma.vec_id
  JOIN ex eb ON eb.vec_id = mb.vec_id AND eb.pos = ea.pos
  GROUP BY ma.clabel, ma.vec_id, mb.vec_id
),
dropped AS (
  SELECT clabel, COUNT(DISTINCT hi_id) AS n_dropped
  FROM pair_dots
  WHERE dot > 0
    AND dot::HUGEINT * dot * {tau_den * tau_den}
        >= vna::HUGEINT * vnb * {tau_num * tau_num}
  GROUP BY clabel
)
SELECT m.clabel AS cluster,
       COUNT(*)::BIGINT AS n_members,
       COALESCE(ANY_VALUE(d.n_dropped), 0)::BIGINT AS n_dropped,
       (COUNT(*) - COALESCE(ANY_VALUE(d.n_dropped), 0))::BIGINT AS n_kept
FROM members m LEFT JOIN dropped d ON d.clabel = m.clabel
GROUP BY m.clabel"""


def kmeans_assign_oracle(dim: int = 64) -> str:
    return f"""WITH ex AS (
  SELECT vec_id, label, i AS pos,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
cent AS (
  SELECT label AS clabel, pos,
         floor((SUM(qv)::DOUBLE / COUNT(*) / 1e7) * 10000)::BIGINT AS qc
  FROM ex GROUP BY label, pos
),
cnorm AS (SELECT clabel, SUM(qc * qc) AS cn FROM cent GROUP BY clabel),
vnorm AS (SELECT vec_id, SUM(qv * qv) AS vn FROM ex GROUP BY vec_id),
dots AS (
  SELECT e.vec_id, e.label, c.clabel, SUM(e.qv * c.qc) AS dot
  FROM ex e JOIN cent c ON c.pos = e.pos
  GROUP BY e.vec_id, e.label, c.clabel
),
scored AS (
  SELECT d.vec_id, d.label, d.clabel,
         ROUND(d.dot::DOUBLE / (sqrt(v.vn::DOUBLE) * sqrt(n.cn::DOUBLE)), 6)
           AS cos
  FROM dots d
  JOIN vnorm v ON v.vec_id = d.vec_id
  JOIN cnorm n ON n.clabel = d.clabel
  WHERE v.vn > 0 AND n.cn > 0
),
assigned AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, clabel ASC) AS rn
  FROM scored
)
SELECT label, clabel AS assigned_label, COUNT(*)::BIGINT AS cnt
FROM assigned WHERE rn = 1 GROUP BY label, clabel"""


def kmeans_step_shift(emb: DataFrame) -> DataFrame:
    """One full Lloyd iteration as relational algebra: assign every vector
    to its nearest label-centroid (see kmeans_assign_confusion), recompute
    each cluster's mean from its assigned members, and report
    `(assigned_label, n_members, shift)` — the L2 distance each centroid
    would move.  `shift` is THE k-means convergence signal; at scale this
    query is the loop body, re-run until max(shift) < ε.

    Same determinism discipline as the assign step: member coordinates
    stay in exact fixed point, and the squared-shift sum runs over
    floor(diff·1e6) BIGINTs (64 exact squares per cluster — reduce-order
    free), with one sqrt at the end.  Physical shape: the assignment's
    (vec_id → cluster) map joins back to the exploded coordinates by
    vec_id, then ONE (cluster, pos)-keyed agg computes all new means;
    old centroids broadcast onto it.
    """
    ex = (
        emb.select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "v"
            ),
        )
        .select(
            "vec_id",
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(F.col("v") * 10000000).cast("long").alias("qv"),
        )
    )
    cent = (
        ex.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            (
                F.sum(F.col("qv").cast("decimal(38,0)")).cast("double") / F.count(F.lit(1)) / F.lit(1e7)
            ).alias("c")
        )
        .select(
            "clabel",
            "pos",
            F.floor(F.col("c") * 10000).cast("long").alias("qc"),
        )
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sum(F.col("qc") * F.col("qc")).alias("cn")
    )
    vnorm = ex.groupBy("vec_id").agg(F.sum(F.col("qv") * F.col("qv")).alias("vn"))
    dots = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(F.sum(F.col("qv") * F.col("qc")).alias("dot"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("clabel").asc()
    )
    assign = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .where((F.col("vn") > 0) & (F.col("cn") > 0))
        .withColumn(
            "cos",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("vn").cast("double"))
                    * F.sqrt(F.col("cn").cast("double"))
                ),
                6,
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("clabel").alias("cluster"))
    )
    new_cent = (
        ex.join(assign, "vec_id")
        .groupBy(F.col("cluster"), "pos")
        .agg(
            (
                F.sum(F.col("qv").cast("decimal(38,0)")).cast("double") / F.count(F.lit(1)) / F.lit(1e7)
            ).alias("nc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    joined = new_cent.join(
        F.broadcast(cent),
        (F.col("cluster") == F.col("clabel")) & (new_cent.pos == cent.pos),
    ).select(
        "cluster",
        "n_rows",
        F.floor((F.col("nc") - F.col("qc") / 10000) * 1000000)
        .cast("long")
        .alias("qd"),
    )
    return joined.groupBy(F.col("cluster").alias("assigned_label")).agg(
        (F.max("n_rows")).cast("long").alias("n_members"),
        F.round(
            F.sqrt(F.sum(F.col("qd") * F.col("qd")).cast("double")) / F.lit(1e6),
            6,
        ).alias("shift"),
    )


def kmeans_step_shift_oracle(dim: int = 64) -> str:
    return f"""WITH ex AS (
  SELECT vec_id, label, i AS pos,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
cent AS (
  SELECT label AS clabel, pos,
         floor((SUM(qv)::DOUBLE / COUNT(*) / 1e7) * 10000)::BIGINT AS qc
  FROM ex GROUP BY label, pos
),
cnorm AS (SELECT clabel, SUM(qc * qc) AS cn FROM cent GROUP BY clabel),
vnorm AS (SELECT vec_id, SUM(qv * qv) AS vn FROM ex GROUP BY vec_id),
dots AS (
  SELECT e.vec_id, c.clabel, SUM(e.qv * c.qc) AS dot
  FROM ex e JOIN cent c ON c.pos = e.pos
  GROUP BY e.vec_id, c.clabel
),
assign AS (
  SELECT vec_id, clabel AS cluster FROM (
    SELECT d.vec_id, d.clabel,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY ROUND(d.dot::DOUBLE / (sqrt(v.vn::DOUBLE) * sqrt(n.cn::DOUBLE)), 6) DESC,
                      d.clabel ASC) AS rn
    FROM dots d
    JOIN vnorm v ON v.vec_id = d.vec_id
    JOIN cnorm n ON n.clabel = d.clabel
    WHERE v.vn > 0 AND n.cn > 0
  ) WHERE rn = 1
),
new_cent AS (
  SELECT a.cluster, e.pos,
         SUM(e.qv)::DOUBLE / COUNT(*) / 1e7 AS nc,
         COUNT(*) AS n_rows
  FROM ex e JOIN assign a ON a.vec_id = e.vec_id
  GROUP BY a.cluster, e.pos
),
diffs AS (
  SELECT n.cluster, n.n_rows,
         floor((n.nc - c.qc / 10000) * 1000000)::BIGINT AS qd
  FROM new_cent n JOIN cent c ON c.clabel = n.cluster AND c.pos = n.pos
)
SELECT cluster AS assigned_label,
       MAX(n_rows)::BIGINT AS n_members,
       ROUND(sqrt(SUM(qd * qd)::DOUBLE) / 1e6, 6) AS shift
FROM diffs GROUP BY cluster"""


def _rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    rank_a: str,
    rank_b: str,
    rrf_k: int,
) -> DataFrame:
    """`(*keys, rrf)` — THE reciprocal-rank-fusion step, shared by
    rank_fusion_topk and hybrid_retrieval_topk so the determinism
    discipline (2-term float add — order-free — then round 6) cannot
    fork between them: FULL OUTER join of two ranked lists on `keys`,
    each missing side contributing 0."""
    return a.join(b, keys, "full_outer").select(
        *keys,
        F.round(
            F.coalesce(1 / (F.lit(rrf_k) + F.col(rank_a)), F.lit(0.0))
            + F.coalesce(1 / (F.lit(rrf_k) + F.col(rank_b)), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )


def _rrf_fuse_sql(
    left: str, right: str, keys: list[str], r_a: str, r_b: str, rrf_k: int
) -> str:
    """DuckDB twin of :func:`_rrf_fuse`: a `fused` CTE body over two
    already-ranked CTEs."""
    on = " AND ".join(f"r.{k} = l.{k}" for k in keys)
    sel = ",\n         ".join(f"COALESCE(l.{k}, r.{k}) AS {k}" for k in keys)
    return f"""fused AS (
  SELECT {sel},
         ROUND(COALESCE(1.0 / ({rrf_k} + l.{r_a}), 0.0)
               + COALESCE(1.0 / ({rrf_k} + r.{r_b}), 0.0), 6) AS rrf
  FROM {left} l FULL OUTER JOIN {right} r ON {on}
)"""


def rank_fusion_topk(
    emb: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings — sign-LSH-free
    brute-force cosine and IVF probe search — into one list per query:
    `(qid, cid, rrf)` with rrf = Σ 1/(rrf_k + rank).  The standard
    multi-retriever ensembling step of a RAG / retrieval pipeline.

    Determinism: ranks are row_numbers over (cos DESC, cid) total orders;
    each fused score sums at most two doubles (float addition is
    commutative, so a 2-term sum is reduce-order-free), rounded to 6
    decimals before the final (rrf DESC, cid) re-rank.  Physical shape:
    both retrievals share the `_with_norm` scan subtree; the fusion is a
    FULL OUTER equi-join on (qid, cid) of two k-row-per-query lists —
    bounded size, broadcast-friendly."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    bf = (
        cosine_topk(emb, num_queries, k)
        .withColumn("r_bf", F.row_number().over(w))
        .select("qid", "cid", "r_bf")
    )
    ivf = (
        ivf_topk(emb, n_centroids, nprobe, num_queries, k)
        .withColumn("r_ivf", F.row_number().over(w))
        .select("qid", "cid", "r_ivf")
    )
    fused = _rrf_fuse(bf, ivf, ["qid", "cid"], "r_bf", "r_ivf", rrf_k)
    w_out = Window.partitionBy("qid").orderBy(
        F.col("rrf").desc(), F.col("cid").asc()
    )
    return (
        fused.withColumn("rn", F.row_number().over(w_out))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "rrf")
    )


def rank_fusion_oracle(
    n_centroids: int = 8,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
    rrf_k: int = 60,
) -> str:
    bf = cosine_topk_oracle(num_queries, k)
    ivf = ivf_topk_oracle(n_centroids, nprobe, num_queries, k)
    return f"""WITH bf0 AS (SELECT * FROM ({bf}) t),
ivf0 AS (SELECT * FROM ({ivf}) t),
bf AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS r_bf
  FROM bf0
),
ivf AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS r_ivf
  FROM ivf0
),
{_rrf_fuse_sql("bf", "ivf", ["qid", "cid"], "r_bf", "r_ivf", rrf_k)},
ranked AS (
  SELECT qid, cid, rrf,
         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid ASC) AS rn
  FROM fused
)
SELECT qid, cid, rrf FROM ranked WHERE rn <= {k}"""


def hybrid_retrieval_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str] | None = None,
    k: int = 10,
    k_each: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """`(doc_id, rrf)` — hybrid lexical+vector retrieval: RRF fusion of
    the BM25 ranking (textstats.bm25_topk, fixed query bag) with the
    brute-force cosine ranking for query vector 0 (doc_id and vec_id
    are aligned in the corpus).  The standard two-retriever RAG recall
    stack: lexical recall catches exact-term matches the embedding
    misses, vector recall catches paraphrases lexical misses.

    Same determinism discipline as rank_fusion_topk: each branch is a
    row_number over a deterministic total order; a fused score sums at
    most two doubles (2-term float add is order-free) rounded to 6
    decimals before the final (rrf DESC, doc_id) re-rank.  Both branch
    lists are ≤ k_each rows — the windows and the full-outer fusion
    join run on bounded data regardless of corpus size; the heavy
    lifting is inside the two branch plans, each audited on its own
    (bm25: 1 shuffle / 2 scans; cosine: broadcast query row).
    """
    from cloudpelican_lsd_spark.operators.textstats import bm25_topk

    wb = Window.partitionBy(F.lit(0)).orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    lex = (
        bm25_topk(docs, terms, k_each)
        .select("doc_id", F.row_number().over(wb).alias("r_lex"))
    )
    wv = Window.partitionBy(F.lit(0)).orderBy(
        F.col("cos").desc(), F.col("doc_id").asc()
    )
    vec = (
        cosine_topk(emb, num_queries=1, k=k_each)
        .select(F.col("cid").alias("doc_id"), "cos")
        .select("doc_id", F.row_number().over(wv).alias("r_vec"))
    )
    fused = _rrf_fuse(lex, vec, ["doc_id"], "r_lex", "r_vec", rrf_k)
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(k)


def hybrid_retrieval_oracle(
    bm25_oracle_sql: str, k: int = 10, k_each: int = 20, rrf_k: int = 60
) -> str:
    """Composes the (independent) BM25 oracle with the cosine oracle."""
    cos = cosine_topk_oracle(1, k_each)
    return f"""WITH lex0 AS (SELECT * FROM ({bm25_oracle_sql}) t),
vec0 AS (SELECT * FROM ({cos}) t),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS r_lex
  FROM lex0
),
vec AS (
  SELECT cid AS doc_id,
         row_number() OVER (ORDER BY cos DESC, cid ASC) AS r_vec
  FROM vec0
),
{_rrf_fuse_sql("lex", "vec", ["doc_id"], "r_lex", "r_vec", rrf_k)}
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {k}"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# ---------------------------------------------------------------------------


def _pq_d2(emb: DataFrame, m: int, n_codes: int, dim: int) -> DataFrame:
    """`(vec_id, s, code, d2)` — exact fixed-point squared distance from
    every vector's subvector *s* to codebook entry *code* (the first
    ``n_codes`` vectors' subvectors, deterministic like ivf_topk's
    centroids).  Elements quantize to floor(v·1e7) BIGINTs, so d2 is an
    exact integer — PQ assignment and ADC sums are hash-reproducible
    across engines with NO float rounding anywhere."""
    if m < 1 or n_codes < 1 or dim % m != 0:
        raise ValueError(
            f"m={m}, n_codes={n_codes}, dim={dim}: m and n_codes must be "
            ">= 1 and m must divide dim — a non-dividing m silently "
            "mis-buckets the trailing dimensions into a phantom subspace"
        )
    sub_dim = dim // m
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("pos0") / sub_dim).cast("int").alias("s"),
        F.floor(F.col("v") * 10000000).cast("long").alias("qv"),
    )
    cb = ex.where(F.col("vec_id") < n_codes).select(
        F.col("vec_id").alias("code"), "pos", F.col("qv").alias("qcb")
    )
    return (
        ex.join(F.broadcast(cb), "pos")
        .groupBy("vec_id", "s", "code")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qcb")) * (F.col("qv") - F.col("qcb"))
            ).alias("d2")
        )
    )


def pq_topk(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    num_queries: int = 10,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization approximate top-k by L2: `(qid, cid, adc)`.

    Split the vector into `m` subspaces; encode each database vector as
    its nearest codebook entry per subspace (8 bytes per vector at
    m=8/n_codes<=256 — the memory-bound ANN regime IVF can't reach); a
    query's distance is the ASYMMETRIC sum of its precomputed
    per-subspace lookup-table entries for the vector's codes.

    100 TB shape: encoding is one broadcast join + one (vec,s,code)-keyed
    agg over the posexploded scan; the search joins the COMPACT code
    table (m rows per vector, no raw vectors) against a broadcast LUT of
    num_queries×m×n_codes rows and sums — the corpus-sized shuffle
    carries only (qid, vec_id, partial-ADC) longs.  All arithmetic is
    exact fixed-point BIGINT: assignment argmins and ADC distances are
    bit-identical in the DuckDB oracle with no rounding.
    """
    d2 = _pq_d2(emb, m, n_codes, dim)
    # argmin as ONE hash aggregate, not a window (r9, guide §2.4): the
    # window form needed the same (vec_id, s) exchange PLUS a sort and a
    # rank filter over it; min(struct(d2, code)) is the identical argmin
    # (struct ordering compares d2 then code — exactly the window's
    # orderBy plus its tie-break) with map-side partial aggregation and
    # no sort.
    assign = (
        d2.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).alias("_m"))
        .select("vec_id", "s", F.col("_m.code").alias("code"))
    )
    lut = d2.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"), "s", "code", F.col("d2").alias("qd2")
    )
    dist = (
        assign.join(F.broadcast(lut), ["s", "code"])
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("adc"))
    )
    w_top = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"), "adc")
    )


def _PQ_D2_CTE(m: int, n_codes: int, dim: int) -> str:
    sub_dim = dim // m
    return f"""ex AS (
  SELECT vec_id, i AS pos, CAST((i - 1) // {sub_dim} AS INT) AS s,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
cb AS (SELECT vec_id AS code, pos, qv AS qcb FROM ex WHERE vec_id < {n_codes}),
d2 AS (
  SELECT e.vec_id, e.s, c.code,
         CAST(SUM((e.qv - c.qcb) * (e.qv - c.qcb)) AS BIGINT) AS d2
  FROM ex e JOIN cb c ON c.pos = e.pos
  GROUP BY e.vec_id, e.s, c.code
),
assign AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM d2) WHERE rn = 1
),
pq AS (
  SELECT l.vec_id AS qid, a.vec_id AS cid,
         CAST(SUM(l.d2) AS BIGINT) AS adc,
         row_number() OVER (PARTITION BY l.vec_id
                            ORDER BY CAST(SUM(l.d2) AS BIGINT) ASC,
                                     a.vec_id ASC) AS rn
  FROM assign a
  JOIN d2 l ON l.s = a.s AND l.code = a.code
  WHERE l.vec_id < {{num_queries}} AND l.vec_id <> a.vec_id
  GROUP BY l.vec_id, a.vec_id
)"""


def pq_topk_oracle(
    m: int = 8, n_codes: int = 16, num_queries: int = 10, k: int = 10, dim: int = 64
) -> str:
    cte = _PQ_D2_CTE(m, n_codes, dim).format(num_queries=num_queries)
    return f"""WITH {cte}
SELECT qid, cid, adc FROM pq WHERE rn <= {k}"""


def build_pq_index(
    emb: DataFrame, m: int = 8, n_codes: int = 16, dim: int = 64
) -> tuple[DataFrame, DataFrame]:
    """`(codebook, codes)` — the persisted-PQ analogue of
    :func:`build_ivf_index`, closing the same recompute gap for the
    memory-bound ANN tier: :func:`pq_topk` re-encodes the whole corpus
    per call, this builds the artifacts ONCE.

    - codebook `(code, pos, qcb)`: ``n_codes × dim`` fixed-point rows
      (deterministic: the first ``n_codes`` vectors' subvectors, so the
      DuckDB oracle replays the exact index; production swaps in
      trained sub-quantizers with the identical plan shape).  Tiny —
      broadcast at query time.
    - codes `(vec_id, s, code)`: the encoded corpus, ``m`` rows per
      vector — the "8 bytes per vector" table that replaces raw
      embeddings on the query path entirely.

    All arithmetic is exact fixed-point BIGINT (floor(v·1e7)), so the
    index and every query against it are hash-reproducible."""
    d2 = _pq_d2(emb, m, n_codes, dim)
    # same argmin-as-aggregate shape as pq_topk (r9): one hash agg,
    # bit-identical to the row_number window it replaces
    codes = (
        d2.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).alias("_m"))
        .select("vec_id", "s", F.col("_m.code").alias("code"))
    )
    sub_dim = dim // m
    codebook = (
        emb.where(F.col("vec_id") < n_codes)
        .select(
            F.col("vec_id").alias("code"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "v"
            ),
        )
        .select(
            "code",
            (F.col("pos0") + 1).alias("pos"),
            (F.col("pos0") / sub_dim).cast("int").alias("s"),
            F.floor(F.col("v") * 10000000).cast("long").alias("qcb"),
        )
    )
    return codebook, codes


def assert_pq_index_compatible(
    codebook: DataFrame,
    codes: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> None:
    """Fail fast when a persisted PQ index disagrees with the query
    side's (m, n_codes, dim): a mismatched codebook silently scores
    garbage ADC distances (the joins still match on (s, code)).  One
    bounded aggregate on the (tiny) codebook + one limit(1) sample of
    the code table; run once at job startup."""
    agg = codebook.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("code").alias("max_code"),
        F.max("pos").alias("max_pos"),
        F.max("s").alias("max_s"),
    ).collect()[0]
    if agg.n != n_codes * dim:
        raise ValueError(
            f"PQ index incompatible: codebook has {agg.n} rows, caller "
            f"expects n_codes*dim = {n_codes * dim}"
        )
    if agg.max_code >= n_codes or agg.max_pos != dim or agg.max_s != m - 1:
        raise ValueError(
            f"PQ index incompatible: codebook (max_code={agg.max_code}, "
            f"max_pos={agg.max_pos}, max_s={agg.max_s}) vs caller "
            f"(n_codes={n_codes}, dim={dim}, m={m})"
        )
    sample = codes.limit(1).collect()
    if sample and not (
        0 <= sample[0].s < m and 0 <= sample[0].code < n_codes
    ):
        raise ValueError(
            f"PQ index incompatible: code row (s={sample[0].s}, "
            f"code={sample[0].code}) outside m={m}/n_codes={n_codes}"
        )


def pq_index_topk(
    queries: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    m: int = 8,
    dim: int = 64,
    k: int = 10,
) -> DataFrame:
    """`(qid, cid, adc)` — asymmetric-distance top-k of a NEW query
    batch against the **persisted PQ index**: only the queries are
    exploded and quantized; the corpus contributes its compact code
    table (m rows/vector, no raw embeddings anywhere on this path).

    Plan: queries × broadcast codebook → per-query LUT
    (|batch|·m·n_codes fixed-point rows, broadcast), equi-joined to the
    code table on (s, code); the only corpus-sized shuffle carries
    (qid, vec_id, partial-ADC) longs for the final sum.  Guard layout
    mismatches with :func:`assert_pq_index_compatible`."""
    if m < 1 or k < 1 or dim % m != 0:
        raise ValueError(
            f"m={m}, k={k}, dim={dim}: m and k must be >= 1 and m must "
            "divide dim — a non-dividing m silently builds lookup tables "
            "for a phantom subspace the code table never matches"
        )
    sub_dim = dim // m
    qx = queries.select(
        "qid",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "v"
        ),
    ).select(
        "qid",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v") * 10000000).cast("long").alias("qv"),
    )
    lut = (
        qx.join(F.broadcast(codebook), "pos")
        .groupBy("qid", "s", "code")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qcb")) * (F.col("qv") - F.col("qcb"))
            ).alias("qd2")
        )
    )
    dist = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("adc"))
    )
    w_top = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"), "adc")
    )


def pq_index_topk_oracle(
    m: int = 8,
    n_codes: int = 16,
    num_queries: int = 10,
    k: int = 10,
    dim: int = 64,
    id_offset: int = 100_000,
) -> str:
    """Oracle for the incremental PQ index query: batch = the first
    ``num_queries`` vectors re-ingested under shifted ids, scored
    against the full persisted code table (their originals included)."""
    sub_dim = dim // m
    return f"""WITH ex AS (
  SELECT vec_id, i AS pos, CAST((i - 1) // {sub_dim} AS INT) AS s,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
cb AS (SELECT vec_id AS code, pos, s, qv AS qcb FROM ex WHERE vec_id < {n_codes}),
d2 AS (
  SELECT e.vec_id, e.s, c.code,
         CAST(SUM((e.qv - c.qcb) * (e.qv - c.qcb)) AS BIGINT) AS d2
  FROM ex e JOIN cb c ON c.pos = e.pos
  GROUP BY e.vec_id, e.s, c.code
),
assign AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM d2) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id + {id_offset} AS qid, q.s, c.code,
         CAST(SUM((q.qv - c.qcb) * (q.qv - c.qcb)) AS BIGINT) AS qd2
  FROM ex q JOIN cb c ON c.pos = q.pos
  WHERE q.vec_id < {num_queries}
  GROUP BY q.vec_id, q.s, c.code
),
dist AS (
  SELECT l.qid, a.vec_id AS cid, CAST(SUM(l.qd2) AS BIGINT) AS adc
  FROM assign a JOIN lut l ON l.s = a.s AND l.code = a.code
  GROUP BY l.qid, a.vec_id
)
SELECT qid, cid, adc FROM (
  SELECT qid, cid, adc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc ASC, cid ASC) AS rn
  FROM dist) WHERE rn <= {k}"""


# ---------------------------------------------------------------------------
# Persisted IVF-PQ residual index (coarse quantizer + PQ over residuals —
# the combined production ANN shape: IVF's scan pruning AND PQ's compact
# memory-bound codes in one index)
# ---------------------------------------------------------------------------


def _quantize_elements(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """`(<id_col>, pos, qv)` — one row per vector element in exact fixed
    point (floor(v·1e7) BIGINT), the shared element explosion under the
    IVF-PQ coarse scorer, residual encoder, and query LUT builder so the
    three can never disagree on quantization."""
    return df.select(
        id_col,
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "v"
        ),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v") * 10000000).cast("long").alias("qv"),
    )


def build_ivfpq_index(
    emb: DataFrame,
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """`(centroids, codebook, codes)` — the combined IVF-PQ residual
    index (the FAISS ``IVFPQ`` shape): each vector is coarse-assigned to
    its nearest centroid by exact integer L2, and its RESIDUAL (vector −
    centroid) is product-quantized into ``m`` sub-space codes against a
    codebook shared across cells.  Completes the persisted-index family:
    :func:`build_ivf_index` gives scan pruning but ships raw vectors;
    :func:`build_pq_index` gives 8-byte codes but scans every code; this
    gives BOTH — a query probes ``nprobe`` cells (partition-pruned scan)
    and scores only compact codes inside them.

    - centroids `(cent_id, pos, qc)`: ``n_centroids × dim`` fixed-point
      element rows (deterministic: the first ``n_centroids`` vectors, so
      the DuckDB oracle replays the exact index; production swaps in
      trained centroids with the identical plan shape).  Tiny —
      broadcast everywhere.
    - codebook `(code, s, pos, rcb)`: ``n_codes × dim`` RESIDUAL-space
      rows — the first ``n_codes`` vectors' residuals relative to their
      own assigned centroids (deterministic stand-in for trained
      sub-quantizers).  Tiny — broadcast at query time.
    - codes `(cent_id, vec_id, s, code)`: the encoded corpus, ``m`` rows
      per vector, carrying the coarse cell id — persist partitioned by
      `cent_id` (:func:`write_ivfpq_index`) and the query's probe list
      prunes the scan to ~nprobe/n_centroids of the table while the ADC
      join touches no raw embedding.

    All arithmetic is exact fixed-point BIGINT (floor(v·1e7); residuals
    stay exact under subtraction), so index build and every query are
    hash-reproducible across engines.  Residual magnitudes are ≤ 2·1e7
    and LUT terms ≤ (4·1e7)² · dim ≈ 1e17 — three orders below BIGINT
    overflow at dim 64.
    """
    if n_centroids < 1 or m < 1 or n_codes < 1 or dim % m != 0:
        raise ValueError(
            f"n_centroids={n_centroids}, m={m}, n_codes={n_codes}, "
            f"dim={dim}: all must be >= 1 and m must divide dim — a "
            "non-dividing m silently mis-buckets the trailing dimensions "
            "into a phantom subspace and an empty centroid set builds an "
            "index every query misses"
        )
    ex = _quantize_elements(emb)
    cents = ex.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), "pos", F.col("qv").alias("qc")
    )
    rv = _ivfpq_residuals(ex, cents, dim // m)
    codebook = rv.where(F.col("vec_id") < n_codes).select(
        F.col("vec_id").alias("code"), "s", "pos", F.col("rv").alias("rcb")
    )
    return cents, codebook, _ivfpq_encode(rv, codebook)


def _ivfpq_residuals(ex: DataFrame, cents: DataFrame, sub_dim: int) -> DataFrame:
    """`(vec_id, cent_id, pos, s, rv)` — coarse-assign quantized elements
    to their nearest centroid by exact integer L2 and subtract it.  The
    ONE assignment+residual rule, shared by the index build and every
    incremental append so the two can never fork."""
    cd2 = (
        ex.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cent_id")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qc")) * (F.col("qv") - F.col("qc"))
            ).alias("cd2")
        )
    )
    # argmin as ONE hash aggregate (r9, guide §2.3/§2.4): identical to
    # the row_number window it replaces (struct ordering = cd2 asc,
    # cent_id asc), but map-side partial MIN collapses the n_centroids
    # candidate rows per vector BEFORE the exchange and no sort runs
    coarse = (
        cd2.groupBy("vec_id")
        .agg(F.min(F.struct("cd2", "cent_id")).alias("_m"))
        .select("vec_id", F.col("_m.cent_id").alias("cent_id"))
    )
    return (
        ex.join(coarse, "vec_id")
        .join(F.broadcast(cents), ["cent_id", "pos"])
        .select(
            "vec_id",
            "cent_id",
            "pos",
            ((F.col("pos") - 1) / sub_dim).cast("int").alias("s"),
            (F.col("qv") - F.col("qc")).alias("rv"),
        )
    )


def _ivfpq_encode(rv: DataFrame, codebook: DataFrame) -> DataFrame:
    """`(cent_id, vec_id, s, code)` — per-subspace argmin encoding of
    residuals against the broadcast codebook, shared by build and
    append (same tie rule: d2 asc, code asc)."""
    enc = (
        rv.join(
            F.broadcast(codebook.select("code", "pos", "rcb")), "pos"
        )
        .groupBy("vec_id", "cent_id", "s", "code")
        .agg(
            F.sum(
                (F.col("rv") - F.col("rcb")) * (F.col("rv") - F.col("rcb"))
            ).alias("d2")
        )
    )
    # same argmin-as-aggregate shape (r9): cent_id is functionally
    # dependent on vec_id (one coarse cell per vector), so adding it to
    # the grouping key leaves the groups identical while carrying it out
    return (
        enc.groupBy("cent_id", "vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).alias("_m"))
        .select("cent_id", "vec_id", "s", F.col("_m.code").alias("code"))
    )


def append_to_ivfpq_index(
    batch: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    table: str,
    m: int = 8,
    dim: int = 64,
) -> None:
    """Index MAINTENANCE for the combined index: assign a NEW ingestion
    batch `(vec_id, embedding)` to the EXISTING centroids, encode its
    residuals against the EXISTING codebook (both via the exact helpers
    the build used — the assignment and tie rules cannot fork), and
    append the compact code rows partition-locally.  Tomorrow's query
    batch sees today's vectors with no corpus re-encode; centroids and
    codebook stay fixed between retrains (drift is an audit concern —
    :func:`ivfpq_recall` — not a correctness one, since queries score
    against the same artifacts the rows were encoded under)."""
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"m={m}, dim={dim}: m must be >= 1 and divide dim — a "
            "non-dividing m silently mis-buckets the trailing dimensions"
        )
    rv = _ivfpq_residuals(_quantize_elements(batch), cents, dim // m)
    codes = _ivfpq_encode(rv, codebook)
    (
        codes.write.partitionBy("cent_id")
        .format("parquet")
        .mode("append")
        .saveAsTable(table)
    )


def write_ivfpq_index(
    emb: DataFrame,
    table: str,
    path: str,
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> None:
    """Persist the IVF-PQ index: centroids and codebook as plain parquet
    (tiny, broadcast on read) and the code table directory-PARTITIONED
    by `cent_id` — the same DPP-pruned scan contract as
    :func:`write_ivf_index`'s default layout, but each pruned cell now
    holds 8-byte codes instead of raw vectors, so the per-probe read is
    ~dim·8/m× smaller again."""
    cents, codebook, codes = build_ivfpq_index(emb, n_centroids, m, n_codes, dim)
    cents.write.mode("overwrite").parquet(path + "/centroids")
    codebook.write.mode("overwrite").parquet(path + "/codebook")
    (
        codes.write.partitionBy("cent_id")
        .option("path", path + "/codes")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(table)
    )


def read_ivfpq_index(
    spark, table: str, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read back a persisted IVF-PQ index: `(centroids, codebook,
    codes)` — codes through the catalog so the partitioned layout's
    pruning contract survives."""
    return (
        spark.read.parquet(path + "/centroids"),
        spark.read.parquet(path + "/codebook"),
        spark.table(table),
    )


def assert_ivfpq_index_compatible(
    cents: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> None:
    """Fail fast when a persisted IVF-PQ index disagrees with the query
    side's (n_centroids, m, n_codes, dim): the joins still match on
    (cent_id, s, code), so a mismatch silently scores garbage ADC.  Two
    bounded aggregates on the tiny artifacts + one limit(1) sample of
    the code table; run once at job startup."""
    cagg = cents.agg(
        F.count(F.lit(1)).alias("n"), F.max("cent_id").alias("max_c"),
        F.max("pos").alias("max_pos"),
    ).collect()[0]
    if cagg.n != n_centroids * dim or cagg.max_pos != dim:
        raise ValueError(
            f"IVF-PQ index incompatible: centroids have {cagg.n} element "
            f"rows / max_pos={cagg.max_pos}, caller expects "
            f"n_centroids*dim = {n_centroids * dim} / dim={dim}"
        )
    bagg = codebook.agg(
        F.count(F.lit(1)).alias("n"), F.max("code").alias("max_code"),
        F.max("s").alias("max_s"),
    ).collect()[0]
    if bagg.n != n_codes * dim or bagg.max_code >= n_codes or bagg.max_s != m - 1:
        raise ValueError(
            f"IVF-PQ index incompatible: codebook (rows={bagg.n}, "
            f"max_code={bagg.max_code}, max_s={bagg.max_s}) vs caller "
            f"(n_codes={n_codes}, dim={dim}, m={m})"
        )
    sample = codes.limit(1).collect()
    if sample and not (
        0 <= sample[0].s < m
        and 0 <= sample[0].code < n_codes
        and 0 <= sample[0].cent_id < n_centroids
    ):
        raise ValueError(
            f"IVF-PQ index incompatible: code row (cent_id="
            f"{sample[0].cent_id}, s={sample[0].s}, code={sample[0].code}) "
            f"outside n_centroids={n_centroids}/m={m}/n_codes={n_codes}"
        )


def ivfpq_index_topk(
    queries: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    nprobe: int = 2,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """`(qid, cid, adc)` — top-k by asymmetric distance of a NEW query
    batch against the **persisted IVF-PQ index**: the full production
    retrieval shape.  Only the queries are exploded and quantized; the
    corpus contributes its compact partitioned code table.
    ``exclude_self`` drops `qid == vec_id` BEFORE ranking — for audits
    that query the corpus with its own (un-shifted) ids.

    Plan: queries × broadcast centroids → exact-integer coarse scores →
    top-``nprobe`` probe cells per query; per probed cell the query's
    RESIDUAL builds a lookup table against the broadcast codebook
    (|batch|·nprobe·m·n_codes BIGINT rows); the LUT (keyed by cent_id)
    equi-joins the code table on (cent_id, s, code) — against the
    partitioned layout of :func:`write_ivfpq_index` dynamic partition
    pruning restricts the index SCAN to the probed cells, and the only
    corpus-sized shuffle carries (qid, vec_id, partial-ADC) longs.
    Guard layout mismatches with :func:`assert_ivfpq_index_compatible`."""
    if nprobe < 1 or k < 1:
        raise ValueError(
            f"nprobe={nprobe}, k={k}: both must be >= 1 — zero probes or "
            "zero results silently return an empty frame for every query"
        )
    qx = _quantize_elements(queries, id_col="qid")
    qcd2 = (
        qx.join(F.broadcast(cents), "pos")
        .groupBy("qid", "cent_id")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qc")) * (F.col("qv") - F.col("qc"))
            ).alias("cd2")
        )
    )
    w_probe = Window.partitionBy("qid").orderBy(
        F.col("cd2").asc(), F.col("cent_id").asc()
    )
    probes = (
        qcd2.withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= nprobe)
        .select("qid", "cent_id")
    )
    lut = (
        qx.join(probes, "qid")
        .join(F.broadcast(cents), ["cent_id", "pos"])
        .join(
            F.broadcast(codebook.select("code", "s", "pos", "rcb")), "pos"
        )
        .groupBy("qid", "cent_id", "s", "code")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qc") - F.col("rcb"))
                * (F.col("qv") - F.col("qc") - F.col("rcb"))
            ).alias("qd2")
        )
    )
    cands = codes.join(F.broadcast(lut), ["cent_id", "s", "code"])
    if exclude_self:
        cands = cands.where(F.col("qid") != F.col("vec_id"))
    dist = cands.groupBy("qid", "vec_id").agg(F.sum("qd2").alias("adc"))
    w_top = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"), "adc")
    )


def ivfpq_index_topk_oracle(
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
    dim: int = 64,
    id_offset: int = 100_000,
) -> str:
    """Oracle for the incremental IVF-PQ query: batch = the first
    ``num_queries`` corpus vectors re-ingested under shifted ids.  A
    re-ingested query's nearest probe cell is its origin's cell (the
    coarse scores are the same exact integers), and AMONG THAT CELL'S
    candidates the origin achieves the minimum ADC (its codes are the
    per-subspace argmins of exactly the query's residual LUT).  The
    bound is per-cell, not global: the other probed cells score against
    different residual LUTs and can legitimately undercut the origin's
    own quantization error."""
    sub_dim = dim // m
    return f"""WITH ex AS (
  SELECT vec_id, i AS pos,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
cents AS (
  SELECT vec_id AS cent_id, pos, qv AS qc FROM ex WHERE vec_id < {n_centroids}
),
cd2 AS (
  SELECT e.vec_id, c.cent_id,
         CAST(SUM((e.qv - c.qc) * (e.qv - c.qc)) AS BIGINT) AS cd2
  FROM ex e JOIN cents c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cent_id
),
coarse AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cd2 ASC, cent_id ASC) AS rn
    FROM cd2) WHERE rn = 1
),
rv AS (
  SELECT e.vec_id, a.cent_id, e.pos,
         CAST((e.pos - 1) // {sub_dim} AS INT) AS s,
         e.qv - c.qc AS rv
  FROM ex e
  JOIN coarse a ON a.vec_id = e.vec_id
  JOIN cents c ON c.cent_id = a.cent_id AND c.pos = e.pos
),
cb AS (
  SELECT vec_id AS code, s, pos, rv AS rcb FROM rv WHERE vec_id < {n_codes}
),
enc AS (
  SELECT r.vec_id, r.cent_id, r.s, b.code,
         CAST(SUM((r.rv - b.rcb) * (r.rv - b.rcb)) AS BIGINT) AS d2
  FROM rv r JOIN cb b ON b.pos = r.pos
  GROUP BY r.vec_id, r.cent_id, r.s, b.code
),
codes AS (
  SELECT cent_id, vec_id, s, code FROM (
    SELECT cent_id, vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM enc) WHERE rn = 1
),
q AS (
  SELECT vec_id + {id_offset} AS qid, pos, qv FROM ex
  WHERE vec_id < {num_queries}
),
qcd2 AS (
  SELECT q.qid, c.cent_id,
         CAST(SUM((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS cd2
  FROM q JOIN cents c ON c.pos = q.pos
  GROUP BY q.qid, c.cent_id
),
probes AS (
  SELECT qid, cent_id FROM (
    SELECT qid, cent_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cd2 ASC, cent_id ASC) AS rn
    FROM qcd2) WHERE rn <= {nprobe}
),
lut AS (
  SELECT q.qid, p.cent_id, b.s, b.code,
         CAST(SUM((q.qv - c.qc - b.rcb) * (q.qv - c.qc - b.rcb))
              AS BIGINT) AS qd2
  FROM q
  JOIN probes p ON p.qid = q.qid
  JOIN cents c ON c.cent_id = p.cent_id AND c.pos = q.pos
  JOIN cb b ON b.pos = q.pos
  GROUP BY q.qid, p.cent_id, b.s, b.code
),
dist AS (
  SELECT l.qid, t.vec_id AS cid, CAST(SUM(l.qd2) AS BIGINT) AS adc
  FROM codes t
  JOIN lut l ON l.cent_id = t.cent_id AND l.s = t.s AND l.code = t.code
  GROUP BY l.qid, t.vec_id
)
SELECT qid, cid, adc FROM (
  SELECT qid, cid, adc,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc ASC, cid ASC) AS rn
  FROM dist) WHERE rn <= {k}"""


def ivfpq_recall(
    emb: DataFrame,
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """`(qid, hits, recall)` — the combined index's accuracy audit
    against the EXACT fixed-point L2 top-k (self excluded, identical
    tie rules): the tuning loop for (n_centroids, nprobe, m, n_codes)
    before a large run.  IVF-PQ stacks BOTH loss sources — probing
    misses cells AND the residual codes blur distances — which is
    exactly why the audit ships with the index: the combined loss is a
    data property to measure, not assume (compare against
    :func:`ivf_recall` and :func:`pq_recall` to attribute it)."""
    cents, codebook, codes = build_ivfpq_index(emb, n_centroids, m, n_codes, dim)
    queries = emb.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    approx = ivfpq_index_topk(
        queries, cents, codebook, codes, nprobe, k, exclude_self=True
    )
    ex = _quantize_elements(emb)
    q = ex.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"), "pos", F.col("qv").alias("qqv")
    )
    d2 = (
        ex.join(F.broadcast(q), "pos")
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qqv")) * (F.col("qv") - F.col("qqv"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    exact = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"))
    )
    hits = (
        approx.select("qid", "cid")
        .join(exact, ["qid", "cid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact")).join(
        hits, "qid", "left"
    ).select(
        "qid",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_exact"), 4
        ).alias("recall"),
    )


def ivfpq_recall_oracle(
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    nprobe: int = 2,
    num_queries: int = 10,
    k: int = 10,
    dim: int = 64,
) -> str:
    approx = ivfpq_index_topk_oracle(
        n_centroids, m, n_codes, nprobe, num_queries, k, dim, id_offset=0
    )
    # id_offset=0 makes qid share the corpus id space; the audit then
    # needs self-exclusion, which the incremental oracle doesn't have —
    # wrap it and drop qid == cid BEFORE re-ranking to k.  The final
    # rank clause must be unique in the inner SQL or the lift below
    # would also rewrite the probe clause (k == nprobe collides).
    if approx.count(f"WHERE rn <= {k}") != 1:
        raise ValueError(
            f"k={k} collides with nprobe={nprobe} in the generated SQL — "
            "pick distinct values for the recall audit"
        )
    return f"""WITH approx_all AS (
  SELECT qid, cid, adc FROM (
    SELECT qid, cid, adc,
           row_number() OVER (PARTITION BY qid
                              ORDER BY adc ASC, cid ASC) AS rn
    FROM (SELECT a.qid, a.cid, a.adc
          FROM ({approx.replace(f"WHERE rn <= {k}", "WHERE rn >= 1")}) a
          WHERE a.qid <> a.cid) t
  ) WHERE rn <= {k}
),
ex2 AS (
  SELECT vec_id, i AS pos,
         floor(embedding[i]::DOUBLE * 10000000)::BIGINT AS qv
  FROM embeddings, generate_series(1, {dim}) t(i)
),
qq AS (
  SELECT vec_id AS qid, pos, qv AS qqv FROM ex2 WHERE vec_id < {num_queries}
),
xd2 AS (
  SELECT q.qid, e.vec_id,
         CAST(SUM((e.qv - q.qqv) * (e.qv - q.qqv)) AS BIGINT) AS d2
  FROM ex2 e JOIN qq q ON q.pos = e.pos
  WHERE q.qid <> e.vec_id
  GROUP BY q.qid, e.vec_id
),
exact AS (
  SELECT qid, vec_id AS cid FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY d2 ASC, vec_id ASC) AS rn
    FROM xd2) WHERE rn <= {k}
),
h AS (
  SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS hits
  FROM approx_all a JOIN exact x ON x.qid = a.qid AND x.cid = a.cid
  GROUP BY a.qid
)
SELECT e.qid,
       COALESCE(h.hits, 0) AS hits,
       ROUND(COALESCE(h.hits, 0)::DOUBLE / COUNT(*), 4) AS recall
FROM exact e LEFT JOIN h ON h.qid = e.qid
GROUP BY e.qid, h.hits"""


def prototype_pruning(
    emb: DataFrame, drop_num: int = 1, drop_den: int = 4
) -> DataFrame:
    """`(vec_id, label, cos, action)` — prototypicality-based data
    pruning (Sorscher et al. 2022, "Beyond neural scaling laws: beating
    power law scaling via data pruning" — public): within each label
    cluster, the ``drop_num/drop_den`` most PROTOTYPICAL vectors (highest
    cosine to their own label centroid) are marked ``drop_easy`` — the
    large-dataset regime of the paper, where easy/redundant examples
    contribute least; the hard tail is kept.  Centroids and cosines are
    the kmeans family's exact fixed-point values (`_fixed_point_scores`),
    so the decision is hash-identical across engines.

    Scale shape (the corpus_perplexity_cutpoints pattern, NOT a
    per-vector window over the corpus): per-(label, cos_micro) histogram
    first — the running-sum window then runs over the BOUNDED histogram
    (≤ 2e6+1 possible rounded-cosine values per label), never over raw
    vectors — and each vector joins its bucket's decision back.  Ties
    decide at bucket granularity: a cosine bucket is dropped only if the
    cumulative count through it stays within the target, so the
    realized drop count under-shoots rather than splitting a tie
    nondeterministically."""
    if drop_den < 1 or drop_num < 0 or drop_num > drop_den:
        raise ValueError(
            f"drop fraction {drop_num}/{drop_den}: need 0 <= num <= den "
            "and a positive denominator"
        )
    own = _fixed_point_scores(emb).where(
        F.col("clabel") == F.col("label")
    ).select(
        "vec_id",
        "label",
        "cos",
        F.expr("CAST(round(cos * 1000000, 0) AS BIGINT)").alias("cm"),
    )
    hist = own.groupBy("label", "cm").agg(F.count(F.lit(1)).alias("cnt"))
    n_lbl = own.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    w = (
        Window.partitionBy("label")
        .orderBy(F.col("cm").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    buckets = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .join(n_lbl, "label")
        .select(
            "label",
            "cm",
            (
                F.col("cum") * drop_den <= F.col("n_label") * drop_num
            ).alias("is_drop"),
        )
    )
    return own.join(buckets, ["label", "cm"]).select(
        "vec_id",
        "label",
        "cos",
        F.when(F.col("is_drop"), F.lit("drop_easy"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


def prototype_pruning_oracle(
    drop_num: int = 1, drop_den: int = 4, dim: int = 64
) -> str:
    """DuckDB twin — shares the exact fixed-point score CTEs by
    extracting them from kmeans_assign_oracle (the
    centroid_outliers_oracle pattern: one definition of the centroid
    arithmetic, every consumer slices it)."""
    base = kmeans_assign_oracle(dim)
    ctes = base[: base.rindex("\nassigned AS (")].rstrip().rstrip(",")
    return f"""{ctes},
own AS (
  SELECT vec_id, label, cos,
         CAST(round(cos * 1000000, 0) AS BIGINT) AS cm
  FROM scored WHERE clabel = label
),
hist AS (
  SELECT label, cm, COUNT(*)::BIGINT AS cnt FROM own GROUP BY label, cm
),
nl AS (SELECT label, COUNT(*)::BIGINT AS n_label FROM own GROUP BY label),
buckets AS (
  SELECT h.label, h.cm,
         (SUM(h.cnt) OVER (PARTITION BY h.label ORDER BY h.cm DESC
                           ROWS UNBOUNDED PRECEDING) * {drop_den}
          <= nl.n_label * {drop_num}) AS is_drop
  FROM hist h JOIN nl ON nl.label = h.label
)
SELECT o.vec_id, o.label, o.cos,
       CASE WHEN b.is_drop THEN 'drop_easy' ELSE 'keep' END AS action
FROM own o JOIN buckets b ON b.label = o.label AND b.cm = o.cm"""


def margin_scoring(
    emb: DataFrame, num_queries: int = 10, k: int = 10
) -> DataFrame:
    """`(qid, cid, cos, margin)` — ratio-margin scoring of each query's
    top-k candidates (Artetxe & Schwenk 2019, "Margin-based Parallel
    Corpus Mining with Multilingual Sentence Embeddings" — public): the
    hubness correction used by large-scale mining pipelines
    (CCMatrix/LASER).  A raw cosine threshold over-selects hub vectors
    that are close to EVERYTHING; the margin divides each pair's cosine
    by the mean of both endpoints' top-k neighborhoods,

        margin(q,c) = cos(q,c) / ((avgK(q) + avgK(c)) / 2)

    so a candidate only scores high if it is close to the query
    RELATIVE to how close each of them is to everything else.

    Determinism: cosines are the engine-identical round-6 values;
    they are lifted to exact micro-unit BIGINTs, neighborhood sums are
    exact integer sums, and the margin is ONE correctly-rounded double
    division of two BIGINTs, rounded to 6dp — bit-identical across
    engines.  Pairs whose combined neighborhood sum is non-positive
    (possible with signed cosines) are dropped: the ratio margin is
    undefined there, exactly like cosine on zero-norm vectors.

    Scale shape: the query-side top-k is the brute-force audit tier
    (broadcast queries, one corpus scan); the candidate side scores
    only the ≤ num_queries·k DISTINCT retrieved ids — a second
    broadcast-probe scan, NOT an n² pass.  At 100 TB swap both scans
    for :func:`ivf_index_topk` probes; the margin algebra is unchanged.
    """
    if num_queries < 1 or k < 1:
        raise ValueError(
            f"num_queries={num_queries}, k={k}: both must be >= 1 — an "
            "empty query or neighborhood set scores nothing"
        )
    base = _with_norm(emb).select("vec_id", "emb", "nrm")

    def topk_for(probe_ids: DataFrame) -> DataFrame:
        """(qid, cid, cos) — brute-force top-k of each probe id, self
        excluded; probe side broadcast (bounded), corpus scanned once."""
        q = base.join(
            F.broadcast(probe_ids), base["vec_id"] == probe_ids["pid"]
        ).select(
            F.col("pid").alias("qid"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
        )
        pairs = (
            base.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
            .withColumn(
                "cos",
                F.round(
                    F.expr(_DOT.format(a="qemb", b="emb"))
                    / (F.col("qnrm") * F.col("nrm")),
                    6,
                ),
            )
            .select("qid", F.col("vec_id").alias("cid"), "cos")
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("cos").desc(), F.col("cid").asc()
        )
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("qid", "cid", "cos")
        )

    qids = base.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("pid")
    )
    qtop = topk_for(qids).withColumn(
        "cos_micro", F.expr("CAST(round(cos * 1000000, 0) AS BIGINT)")
    )
    cids = qtop.select(F.col("cid").alias("pid")).distinct()
    ctop = topk_for(cids).withColumn(
        "cos_micro", F.expr("CAST(round(cos * 1000000, 0) AS BIGINT)")
    )
    qsum = qtop.groupBy("qid").agg(F.sum("cos_micro").alias("sum_q"))
    csum = ctop.groupBy(F.col("qid").alias("cid")).agg(
        F.sum("cos_micro").alias("sum_c")
    )
    return (
        qtop.join(qsum, "qid")
        .join(csum, "cid")
        .where(F.col("sum_q") + F.col("sum_c") > 0)
        .select(
            "qid",
            "cid",
            "cos",
            F.round(
                (F.col("cos_micro") * 2 * k)
                / (F.col("sum_q") + F.col("sum_c")),
                6,
            ).alias("margin"),
        )
    )


def margin_scoring_oracle(num_queries: int = 10, k: int = 10) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
n AS (
  SELECT vec_id, emb, sqrt({dot.format(a='emb', b='emb')}) AS nrm FROM e
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
qtop AS (
  SELECT qid, cid, cos,
         CAST(round(cos * 1000000, 0) AS BIGINT) AS cos_micro
  FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cid,
           ROUND({dot.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 6)
             AS cos,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({dot.format(a='q.emb', b='c.emb')}
                            / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id ASC) AS rn
    FROM n q JOIN n c ON q.vec_id < {num_queries} AND q.vec_id <> c.vec_id
  ) WHERE rn <= {k}
),
cands AS (SELECT DISTINCT cid AS pid FROM qtop),
ctop AS (
  SELECT qid, CAST(round(cos * 1000000, 0) AS BIGINT) AS cos_micro
  FROM (
    SELECT p.pid AS qid, c.vec_id AS cid,
           ROUND({dot.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 6)
             AS cos,
           row_number() OVER (
             PARTITION BY p.pid
             ORDER BY ROUND({dot.format(a='q.emb', b='c.emb')}
                            / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id ASC) AS rn
    FROM cands p
    JOIN n q ON q.vec_id = p.pid
    JOIN n c ON c.vec_id <> p.pid
  ) WHERE rn <= {k}
),
qsum AS (SELECT qid, CAST(SUM(cos_micro) AS BIGINT) AS sum_q
         FROM qtop GROUP BY qid),
csum AS (SELECT qid AS cid, CAST(SUM(cos_micro) AS BIGINT) AS sum_c
         FROM ctop GROUP BY qid)
SELECT t.qid, t.cid, t.cos,
       ROUND((t.cos_micro * 2 * {k})::DOUBLE / (s.sum_q + c.sum_c), 6)
         AS margin
FROM qtop t JOIN qsum s ON s.qid = t.qid JOIN csum c ON c.cid = t.cid
WHERE s.sum_q + c.sum_c > 0"""


def semantic_decontaminate(
    emb: DataFrame,
    min_cos_num: int = 2,
    min_cos_den: int = 5,
    eval_mod: int = 97,
    n_eval: int = 20,
) -> DataFrame:
    """`(label, n_train_vecs, n_contaminated, n_clean)` — EMBEDDING-space
    benchmark decontamination, the semantic complement of the shingle
    rule (corpus.eval_decontaminate): training vectors whose cosine to
    ANY held-out eval vector reaches num/den are flagged — paraphrased
    or translated eval leakage that shares no n-gram still sits next to
    the benchmark in embedding space (the Llama/GPT-4-report-style
    semantic dedup-vs-eval pass).  The eval set is the deterministic
    ``vec_id % eval_mod == 0`` slice standing in for an external
    benchmark table, same convention as the shingle twin.

    Scale shape: benchmarks are tiny, so the eval side (normalized) is
    BROADCAST and the 100 TB train side streams through ONE scan —
    exact cosine against every eval vector with no self-join, no LSH
    recall loss, and no shuffle of train vectors; the per-label summary
    is a |labels|-row aggregate.  (Only when the eval side outgrows the
    broadcast budget does this degrade to the bucketed
    :func:`lsh_near_pairs` plan.)  Zero-norm vectors are dropped on
    BOTH sides (cosine undefined; `_with_norm`'s documented rule).

    The stand-in eval slice is BOUNDED (first ``n_eval`` multiples of
    ``eval_mod``), matching the production reality that benchmarks are
    fixed-size: an eval side growing with the corpus would make the
    exact scan O(n·|eval|) = quadratic — measured 25x cost on 10x data
    before the bound — while a constant benchmark keeps it linear."""
    if min_cos_den < 1:
        raise ValueError(
            f"min_cos_den={min_cos_den}: the threshold denominator must "
            "be positive — a zero denominator flags everything"
        )
    base = _with_norm(emb)
    is_eval = (F.col("vec_id") % eval_mod == 0) & (
        F.col("vec_id") < eval_mod * n_eval
    )
    ev = base.where(is_eval).select(
        F.col("emb").alias("eemb"), F.col("nrm").alias("enrm")
    )
    tr = base.where(~is_eval)
    hit = (
        tr.select("vec_id", "emb", "nrm")
        .join(F.broadcast(ev))
        .where(
            F.round(
                F.expr(_DOT.format(a="emb", b="eemb"))
                / (F.col("nrm") * F.col("enrm")),
                6,
            )
            * min_cos_den
            >= min_cos_num
        )
        .select("vec_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        tr.select("vec_id", "label")
        .join(hit, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_train_vecs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .select(
            "label",
            "n_train_vecs",
            "n_contaminated",
            (F.col("n_train_vecs") - F.col("n_contaminated")).alias(
                "n_clean"
            ),
        )
    )


def semantic_decontaminate_oracle(
    min_cos_num: int = 2,
    min_cos_den: int = 5,
    eval_mod: int = 97,
    n_eval: int = 20,
) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
),
n AS (
  SELECT vec_id, label, emb,
         sqrt({dot.format(a='emb', b='emb')}) AS nrm
  FROM e WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
ev AS (SELECT emb AS eemb, nrm AS enrm FROM n
       WHERE vec_id % {eval_mod} = 0 AND vec_id < {eval_mod * n_eval}),
tr AS (SELECT * FROM n
       WHERE NOT (vec_id % {eval_mod} = 0 AND vec_id < {eval_mod * n_eval})),
hit AS (
  SELECT DISTINCT t.vec_id
  FROM tr t, ev
  WHERE ROUND({dot.format(a='t.emb', b='ev.eemb')} / (t.nrm * ev.enrm), 6)
        * {min_cos_den} >= {min_cos_num}
)
SELECT t.label,
       COUNT(*)::BIGINT AS n_train_vecs,
       CAST(COUNT(h.vec_id) AS BIGINT) AS n_contaminated,
       CAST(COUNT(*) - COUNT(h.vec_id) AS BIGINT) AS n_clean
FROM tr t LEFT JOIN hit h ON h.vec_id = t.vec_id
GROUP BY t.label"""


def pq_recall(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    num_queries: int = 10,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """`(qid, hits, recall)` — PQ top-k audited against the EXACT
    fixed-point L2 top-k under identical tie rules.  Same audit role as
    ivf_recall: quantifies what the compression costs on this corpus.
    (On the near-random testdata embeddings recall plateaus around 0.3
    regardless of codebook size — measured 16/32/64 codes — which is the
    point of shipping the audit: PQ's loss is a data property the
    pipeline must surface, not assume.)"""
    pq = pq_topk(emb, m, n_codes, num_queries, k, dim)
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v") * 10000000).cast("long").alias("qv"),
    )
    q = ex.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"), "pos", F.col("qv").alias("qqv")
    )
    d2 = (
        ex.join(F.broadcast(q), "pos")
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(
                (F.col("qv") - F.col("qqv")) * (F.col("qv") - F.col("qqv"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    exact = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", F.col("vec_id").alias("cid"))
    )
    hits = (
        pq.select("qid", "cid")
        .join(exact, ["qid", "cid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact")).join(
        hits, "qid", "left"
    ).select(
        "qid",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_exact"), 4
        ).alias("recall"),
    )


def pq_recall_oracle(
    m: int = 8, n_codes: int = 16, num_queries: int = 10, k: int = 10, dim: int = 64
) -> str:
    cte = _PQ_D2_CTE(m, n_codes, dim).format(num_queries=num_queries)
    return f"""WITH {cte},
qex AS (
  SELECT vec_id AS qid, pos, qv AS qqv FROM ex WHERE vec_id < {num_queries}
),
fd AS (
  SELECT q.qid, e.vec_id,
         CAST(SUM((e.qv - q.qqv) * (e.qv - q.qqv)) AS BIGINT) AS d2
  FROM ex e JOIN qex q ON q.pos = e.pos
  WHERE q.qid <> e.vec_id
  GROUP BY q.qid, e.vec_id
),
exact AS (
  SELECT qid, vec_id AS cid FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, vec_id ASC) AS rn
    FROM fd) WHERE rn <= {k}
),
hits AS (
  SELECT p.qid, COUNT(*)::BIGINT AS hits
  FROM pq p JOIN exact x ON x.qid = p.qid AND x.cid = p.cid
  WHERE p.rn <= {k}
  GROUP BY p.qid
)
SELECT e.qid, COALESCE(h.hits, 0)::BIGINT AS hits,
       ROUND(COALESCE(h.hits, 0) / COUNT(*), 4) AS recall
FROM exact e LEFT JOIN hits h USING (qid)
GROUP BY e.qid, h.hits"""


# ---------------------------------------------------------------------------
# Batch-hard triplet mining — contrastive-training data generation
# ---------------------------------------------------------------------------


def triplet_mining(
    emb: DataFrame,
    num_queries: int = 10,
    k: int = 5,
    margin: float = 0.1,
) -> DataFrame:
    """`(qid, pos_id, pos_cos, neg_id, neg_cos, violation)` — batch-hard
    triplet mining for contrastive/embedding training: for each query
    vector (vec_id < num_queries), the HARDEST positive (least-similar
    same-label vector — lowest cosine, tie by id) paired with the top-k
    HARDEST negatives (most-similar different-label vectors), flagging
    margin violations ``neg_cos > pos_cos - margin`` — exactly the
    triplets a trainer wants in the batch.

    Shape: the same broadcast-queries nested-loop as cosine_topk — the
    candidate corpus never shuffles; positives and negatives are two
    row_number windows over the one scored pair set (AQE reuses the
    exchange).  Queries with no same-label partner drop out (no positive
    exists — nothing to train on).  Cosines are double-math rounded to 6
    decimals (ulp absorption), so the violation comparison is
    deterministic across engines.
    """
    base = _with_norm(emb)
    q = base.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("label").alias("qlabel"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        F.col("label").alias("clabel"),
    )
    pairs = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .withColumn(
            "cos",
            F.round(
                F.expr(_DOT.format(a="qemb", b="cemb"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ),
        )
        .select("qid", "qlabel", "cid", "clabel", "cos")
    )
    wpos = Window.partitionBy("qid").orderBy(F.col("cos").asc(), F.col("cid").asc())
    pos = (
        pairs.where(F.col("qlabel") == F.col("clabel"))
        .withColumn("rn", F.row_number().over(wpos))
        .where(F.col("rn") == 1)
        .select("qid", F.col("cid").alias("pos_id"), F.col("cos").alias("pos_cos"))
    )
    wneg = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    negs = (
        pairs.where(F.col("qlabel") != F.col("clabel"))
        .withColumn("rn", F.row_number().over(wneg))
        .where(F.col("rn") <= k)
        .select("qid", F.col("cid").alias("neg_id"), F.col("cos").alias("neg_cos"))
    )
    return negs.join(pos, "qid").select(
        "qid",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        (F.col("neg_cos") > F.col("pos_cos") - F.lit(float(margin))).alias(
            "violation"
        ),
    )


def triplet_mining_oracle(
    num_queries: int = 10, k: int = 5, margin: float = 0.1
) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH te AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
),
tn AS (
  SELECT vec_id, emb, label,
         sqrt({dot.format(a='emb', b='emb')}) AS nrm
  FROM te
  WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
tpairs AS (
  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS cid,
         c.label AS clabel,
         ROUND({dot.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 6) AS cos
  FROM tn q JOIN tn c ON q.vec_id < {num_queries} AND q.vec_id <> c.vec_id
),
tpos AS (
  SELECT qid, cid AS pos_id, cos AS pos_cos
  FROM (
    SELECT qid, cid, cos,
           row_number() OVER (PARTITION BY qid ORDER BY cos ASC, cid ASC) AS rn
    FROM tpairs WHERE qlabel = clabel
  ) WHERE rn = 1
),
tneg AS (
  SELECT qid, cid AS neg_id, cos AS neg_cos
  FROM (
    SELECT qid, cid, cos,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
    FROM tpairs WHERE qlabel <> clabel
  ) WHERE rn <= {k}
)
SELECT n.qid, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
       (n.neg_cos > p.pos_cos - {margin}) AS violation
FROM tneg n JOIN tpos p ON n.qid = p.qid"""


# ---------------------------------------------------------------------------
# Matryoshka truncation audit — retrieval quality of prefix-truncated dims
# ---------------------------------------------------------------------------


def matryoshka_audit(
    emb: DataFrame, trunc_dims: int = 16, num_queries: int = 10, k: int = 10
) -> DataFrame:
    """`(qid, n_overlap, recall_ppm)` — recall@k of cosine retrieval using
    only the FIRST `trunc_dims` embedding dimensions against the full-
    dimension ranking: the Matryoshka-representation question (Kusupati
    et al. 2022) "how much retrieval quality survives if we store/search
    a prefix of the vector?" — the audit run before committing to a
    cheaper truncated index at 100 TB.

    Both rankings come from ONE broadcast nested-loop pass that computes
    the full and prefix cosines side by side (slice() of the same array —
    no second corpus scan), then two row_number windows over the same
    qid partitioning (one exchange, two sorts).  Cosines are rounded to
    6 decimals (deterministic tie-break by cid), recall is integer ppm.
    Zero-norm prefixes are dropped on both engines (same guard as
    `_with_norm`).
    """
    base = _with_norm(emb).withColumn(
        "nrm_t",
        F.expr(
            "sqrt("
            + _DOT.format(
                a=f"slice(emb, 1, {trunc_dims})", b=f"slice(emb, 1, {trunc_dims})"
            )
            + ")"
        ),
    ).where(F.col("nrm_t") > 0)
    q = base.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("nrm_t").alias("qnrm_t"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        F.col("nrm_t").alias("cnrm_t"),
    )
    pairs = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                F.expr(_DOT.format(a="qemb", b="cemb"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("cos_full"),
            F.round(
                F.expr(
                    _DOT.format(
                        a=f"slice(qemb, 1, {trunc_dims})",
                        b=f"slice(cemb, 1, {trunc_dims})",
                    )
                )
                / (F.col("qnrm_t") * F.col("cnrm_t")),
                6,
            ).alias("cos_trunc"),
        )
    )
    w_full = Window.partitionBy("qid").orderBy(
        F.col("cos_full").desc(), F.col("cid").asc()
    )
    w_trunc = Window.partitionBy("qid").orderBy(
        F.col("cos_trunc").desc(), F.col("cid").asc()
    )
    ranked = pairs.select(
        "qid",
        "cid",
        F.row_number().over(w_full).alias("rn_full"),
        F.row_number().over(w_trunc).alias("rn_trunc"),
    )
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(
                F.when((F.col("rn_full") <= k) & (F.col("rn_trunc") <= k), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            "qid",
            "n_overlap",
            F.expr(f"n_overlap * 1000000 div {k}").cast("long").alias("recall_ppm"),
        )
    )


def matryoshka_audit_oracle(
    trunc_dims: int = 16, num_queries: int = 10, k: int = 10
) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, {d}), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH me AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
mn AS (
  SELECT vec_id, emb,
         sqrt({dot.format(d=64, a='emb', b='emb')}) AS nrm,
         sqrt({dot.format(d=trunc_dims, a='emb', b='emb')}) AS nrm_t
  FROM me
  WHERE sqrt({dot.format(d=64, a='emb', b='emb')}) > 0
    AND sqrt({dot.format(d=trunc_dims, a='emb', b='emb')}) > 0
),
mpairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         ROUND({dot.format(d=64, a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 6)
             AS cos_full,
         ROUND({dot.format(d=trunc_dims, a='q.emb', b='c.emb')}
               / (q.nrm_t * c.nrm_t), 6) AS cos_trunc
  FROM mn q JOIN mn c ON q.vec_id < {num_queries} AND q.vec_id <> c.vec_id
),
mranked AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_full DESC, cid ASC) AS rn_full,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_trunc DESC, cid ASC) AS rn_trunc
  FROM mpairs
)
SELECT qid,
       SUM(CASE WHEN rn_full <= {k} AND rn_trunc <= {k} THEN 1 ELSE 0 END)::BIGINT
           AS n_overlap,
       (SUM(CASE WHEN rn_full <= {k} AND rn_trunc <= {k} THEN 1 ELSE 0 END)
        * 1000000 // {k})::BIGINT AS recall_ppm
FROM mranked GROUP BY qid"""


# ---------------------------------------------------------------------------
# PCA power-iteration step — top principal direction, driver loop = training
# ---------------------------------------------------------------------------


def power_iteration_step(emb: DataFrame, dims: int = 64) -> DataFrame:
    """`(dim, y, v1)` — ONE power-iteration step toward the top principal
    direction of the (uncentered) second-moment matrix: ``y = Σ_r (x_r·v₀)
    x_r`` with the deterministic start ``v₀ = 1/√d·(1,…,1)``, and ``v1 =
    y/‖y‖`` — iterate in a driver loop exactly like `emb_kmeans_step` /
    `text_bpe_merge_step` / `text_perceptron_step` (the repo's "the step
    is the operator, the loop is the training" pattern; each iteration
    feeds v1 back as the next v₀, broadcast as 64 literals).

    Determinism discipline: the per-row projection ``t_r = (Σ_d x_rd)/√d``
    is double math on identical inputs; each dim's accumulation sums
    ``ROUND(t_r·x_rd, 6)`` as DECIMAL(25,6) (order-independent), and the
    norm is assembled from the 64 dim sums as Σ ROUND(s_d², 6) in decimal
    — no float ever enters an order-dependent reduction.  Scale shape:
    one corpus scan, one posexplode, ONE (dim)-keyed 64-row aggregate
    (map-side combined); the normalization is a broadcast scalar.
    """
    import math

    inv = 1.0 / math.sqrt(dims)
    e = emb.select(F.col("embedding").cast("array<double>").alias("x"))
    t = e.select(
        "x",
        (
            F.expr("aggregate(x, 0D, (acc, v) -> acc + v)") * F.lit(inv)
        ).alias("t"),
    )
    sums = (
        t.select(F.posexplode("x").alias("dim", "xd"), "t")
        .groupBy("dim")
        .agg(
            F.sum(F.round(F.col("t") * F.col("xd"), 6).cast("decimal(25,6)")).alias(
                "s"
            )
        )
    )
    nrm = sums.agg(
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double"), 6
            ).cast("decimal(25,6)")
        ).alias("nsq")
    ).select(F.sqrt(F.col("nsq").cast("double")).alias("nrm"))
    return (
        sums.crossJoin(F.broadcast(nrm))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("s").cast("double"), 6).alias("y"),
            F.round(F.col("s").cast("double") / F.col("nrm"), 6).alias("v1"),
        )
    )


def power_iteration_oracle(dims: int = 64) -> str:
    inv = f"(1.0 / sqrt({dims}))"
    return f"""WITH pi_e AS (
  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
),
pi_t AS (
  SELECT vec_id, x,
         list_aggregate(x, 'sum') * {inv} AS t
  FROM pi_e
),
pi_rows AS (
  SELECT t.t, u.i - 1 AS dim, t.x[u.i] AS xd
  FROM pi_t t, unnest(generate_series(1, {dims})) AS u(i)
),
pi_sums AS (
  SELECT dim, SUM(CAST(ROUND(t * xd, 6) AS DECIMAL(25,6))) AS s
  FROM pi_rows GROUP BY dim
),
pi_nrm AS (
  SELECT sqrt(CAST(SUM(CAST(ROUND(s::DOUBLE * s::DOUBLE, 6)
                            AS DECIMAL(25,6))) AS DOUBLE)) AS nrm
  FROM pi_sums
)
SELECT s.dim::BIGINT AS dim,
       ROUND(s.s::DOUBLE, 6) AS y,
       ROUND(s.s::DOUBLE / n.nrm, 6) AS v1
FROM pi_sums s, pi_nrm n"""


def cluster_purity(emb: DataFrame) -> DataFrame:
    """`(cluster, n_members, top_label, top_label_cnt, purity_ppm)` — the
    standard external clustering-quality audit: per nearest-centroid
    cluster, the dominant true label and its exact share.  Built on the
    SAME `nearest_centroid_assign` as the confusion/prune ops, so all
    three agree on membership by construction; the purity reduction is
    two map-side-combinable aggregates over (cluster, label) counts plus
    a deterministic top-1 (cnt desc, label asc).  Integer ppm — no float.
    """
    cl = nearest_centroid_assign(emb).groupBy(
        F.col("clabel").alias("cluster"), "label"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("cluster").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    return (
        cl.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.sum("cnt").over(Window.partitionBy("cluster")))
        .where(F.col("rn") == 1)
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("label").cast("long").alias("top_label"),
            F.col("cnt").cast("long").alias("top_label_cnt"),
            F.expr("cnt * 1000000 div n_members").cast("long").alias("purity_ppm"),
        )
    )


def cluster_purity_oracle(dim: int = 64) -> str:
    base = kmeans_assign_oracle(dim)
    ctes = base[: base.rindex("\nSELECT label, clabel AS assigned_label")]
    return f"""{ctes},
cp_cnt AS (
  SELECT clabel AS cluster, label, COUNT(*)::BIGINT AS cnt
  FROM assigned WHERE rn = 1 GROUP BY clabel, label
),
cp_rank AS (
  SELECT cluster, label, cnt,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY cnt DESC, label ASC) AS rn,
         SUM(cnt) OVER (PARTITION BY cluster) AS n_members
  FROM cp_cnt
)
SELECT cluster::BIGINT AS cluster, n_members::BIGINT AS n_members,
       label::BIGINT AS top_label, cnt::BIGINT AS top_label_cnt,
       (cnt * 1000000 // n_members)::BIGINT AS purity_ppm
FROM cp_rank WHERE rn = 1"""


def knn_accuracy(
    emb: DataFrame, k: int = 5, num_queries: int = 50
) -> DataFrame:
    """`(qid, true_label, pred_label, n_votes, correct)` — k-NN
    classification eval: each query vector (vec_id < num_queries) is
    labeled by majority vote of its k nearest cosine neighbors (vote
    count desc, label asc tiebreak), compared to its true label — the
    standard embedding-quality probe ("do labels cluster in this
    space?") run before trusting the space for retrieval or dedup.

    Same broadcast nested-loop + one qid-partitioned window as
    cosine_topk; the vote is a second tiny aggregate over k rows per
    query.  Cosines round to 6dp with cid tiebreak, so the neighbor set
    — and therefore the vote — is deterministic across engines.
    """
    base = _with_norm(emb)
    q = base.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("label").alias("true_label"),
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        F.col("label").alias("clabel"),
    )
    pairs = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "true_label",
            "cid",
            "clabel",
            F.round(
                F.expr(_DOT.format(a="qemb", b="cemb"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    topk = pairs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    votes = topk.groupBy("qid", "true_label", "clabel").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("clabel").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            "qid",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("clabel").cast("long").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
            (F.col("clabel") == F.col("true_label")).alias("correct"),
        )
    )


def knn_accuracy_oracle(k: int = 5, num_queries: int = 50) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, 64), "
        "i -> {a}[i] * {b}[i]), 'sum')"
    )
    return f"""WITH kn_e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
),
kn_n AS (
  SELECT vec_id, emb, label,
         sqrt({dot.format(a='emb', b='emb')}) AS nrm
  FROM kn_e WHERE sqrt({dot.format(a='emb', b='emb')}) > 0
),
kn_pairs AS (
  SELECT q.vec_id AS qid, q.label AS true_label, c.vec_id AS cid,
         c.label AS clabel,
         ROUND({dot.format(a='q.emb', b='c.emb')} / (q.nrm * c.nrm), 6) AS cos
  FROM kn_n q JOIN kn_n c ON q.vec_id < {num_queries} AND q.vec_id <> c.vec_id
),
kn_topk AS (
  SELECT qid, true_label, clabel FROM (
    SELECT qid, true_label, clabel,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rn
    FROM kn_pairs
  ) WHERE rn <= {k}
),
kn_votes AS (
  SELECT qid, true_label, clabel, COUNT(*)::BIGINT AS n_votes
  FROM kn_topk GROUP BY 1, 2, 3
)
SELECT qid, true_label::BIGINT AS true_label, clabel::BIGINT AS pred_label,
       n_votes, (clabel = true_label) AS correct
FROM (
  SELECT qid, true_label, clabel, n_votes,
         row_number() OVER (PARTITION BY qid
                            ORDER BY n_votes DESC, clabel ASC) AS vr
  FROM kn_votes
) WHERE vr = 1"""


def centroid_outliers(emb: DataFrame, threshold_ppm: int = 500000) -> DataFrame:
    """`(vec_id, label, cos_own_micro, is_far)` — embedding QA: cosine of
    every vector to its OWN label centroid (the same exact fixed-point
    quantization as the kmeans family), flagging vectors below
    `threshold_ppm`/1e6 — mislabeled rows, embedding-version mixups, and
    garbage vectors surface here before they poison retrieval or dedup.

    The cosine is reported in integer micro-units (round(cos·1e6)) so the
    flag comparison is pure integers.  One posexplode scan feeds both the
    centroid fit (labels×dim rows) and the dot products; centroids
    broadcast back.
    """
    scored = _fixed_point_scores(emb)
    own = scored.where(F.col("label") == F.col("clabel"))
    return own.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.expr("CAST(round(cos * 1000000, 0) AS BIGINT)").alias("cos_own_micro"),
    ).withColumn("is_far", F.col("cos_own_micro") < threshold_ppm)


def _fixed_point_scores(emb: DataFrame) -> DataFrame:
    """`(vec_id, label, clabel, cos)` — the kmeans family's exact
    fixed-point vector-to-centroid cosines (shared by assignment, purity,
    and the outlier audit; one definition, one oracle twin)."""
    ex = (
        emb.select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
        )
        .select(
            "vec_id",
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(F.col("v") * 10000000).cast("long").alias("qv"),
        )
    )
    cent = (
        ex.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            (
                F.sum(F.col("qv").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / F.lit(1e7)
            ).alias("c")
        )
        .select("clabel", "pos", F.floor(F.col("c") * 10000).cast("long").alias("qc"))
    )
    cnorm = cent.groupBy("clabel").agg(F.sum(F.col("qc") * F.col("qc")).alias("cn"))
    vnorm = ex.groupBy("vec_id").agg(F.sum(F.col("qv") * F.col("qv")).alias("vn"))
    dots = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("qv") * F.col("qc")).alias("dot"))
    )
    return (
        dots.join(F.broadcast(cnorm), "clabel")
        .join(vnorm, "vec_id")
        .where((F.col("vn") > 0) & (F.col("cn") > 0))
        .select(
            "vec_id",
            "label",
            "clabel",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("vn").cast("double"))
                    * F.sqrt(F.col("cn").cast("double"))
                ),
                6,
            ).alias("cos"),
        )
    )


def centroid_outliers_oracle(threshold_ppm: int = 500000, dim: int = 64) -> str:
    base = kmeans_assign_oracle(dim)
    ctes = base[: base.rindex("\nassigned AS (")].rstrip().rstrip(",")
    return f"""{ctes}
SELECT vec_id, label::BIGINT AS label,
       CAST(ROUND(cos * 1000000, 0) AS BIGINT) AS cos_own_micro,
       (CAST(ROUND(cos * 1000000, 0) AS BIGINT) < {threshold_ppm}) AS is_far
FROM scored WHERE label = clabel"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection audit
# ---------------------------------------------------------------------------


def jl_audit(emb: DataFrame, proj_dim: int = 16, dim: int = 64) -> DataFrame:
    """`(vec_id, norm2_milli2, proj_norm2_scaled, ratio_ppm)` — the
    Johnson-Lindenstrauss norm-preservation audit for a deterministic
    Rademacher (±1) projection to ``proj_dim`` dims: the
    dimensionality-reduction step every large-scale ANN/clustering
    pipeline considers, measured on this corpus instead of assumed.
    E[‖y‖²] = proj_dim·‖x‖² for s_ij ∈ {±1}, so `ratio_ppm` =
    1e6·‖y‖²/(proj_dim·‖x‖²) concentrates around 1e6 with relative
    spread ~sqrt(2/proj_dim); systematic drift flags correlated
    dimensions (the rotation-variant layouts PQ sub-spacing also
    suffers from).

    Exactness: elements quantized to MILLI-units once (BIGINT — at 1e6
    scale the 1e6-ppm product overflows: |y_j| <= dim·scale·max|x|, and
    sum(y²)·1e6 must stay under 2^63, which bounds scale at ~1e3 for
    64 dims; the ratio is exact for the quantized vectors at any
    scale), signs from an integer parity hash both engines compute
    identically, projections/norms exact BIGINT sums of products, the
    ratio one integer division.  Zero-norm vectors drop (same rule as
    _with_norm).

    100 TB shape: embarrassingly parallel — one scan, per-row column
    math, no shuffle at all; the audit aggregate downstream of it is
    the only exchange a caller adds.
    """
    qcols = [
        F.expr(
            f"CAST(ROUND(try_element_at(cast(embedding as array<double>), {i + 1})"
            f" * 1e3, 0) AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(dim)
    ]
    # NOT _spread here (r8, measured): splitting the scan from the
    # projection with a round-robin exchange regressed 2.4-3.0 s ->
    # 4.4-8 s steady-state at sf0.1 — the single fused
    # scan+project+filter codegen stage beats 32-way parallelism of the
    # post-shuffle stage for this pure-codegen shape (the exchange
    # breaks the fusion and the scan-side stage alone then costs more
    # than the whole fused run).  Contrast _with_norm, where the
    # downstream chains are join/window-heavy and the spread measured
    # 2-3x faster.
    q = emb.select("vec_id", *qcols)
    # deterministic Rademacher sign for (i, j): parity of an integer mix
    def sgn(i: int, j: int) -> int:
        return 1 if ((i * 73856093 + j * 19349663) >> 3) % 2 == 0 else -1

    # r8: each projection/norm is ONE F.expr over a pre-joined SQL string
    # — the previous per-term Column fold (`sum(F.col(...) ...)`) issued
    # ~2x1024 py4j calls and spent ~7 s of the query's ~9 s BUILDING the
    # DataFrame on the Python side (measured; plan+exec were ~3 s).  The
    # parsed AST is identical (left-associative integer adds), so the
    # result is bit-for-bit unchanged.
    proj = [
        F.expr(
            " + ".join(
                (f"q{i}" if sgn(i, j) == 1 else f"(-q{i})")
                for i in range(dim)
            )
        ).alias(f"y{j}")
        for j in range(proj_dim)
    ]
    norm2 = F.expr(" + ".join(f"q{i} * q{i}" for i in range(dim))).alias(
        "norm2_milli2"
    )
    p = q.select("vec_id", norm2, *proj)
    pn = F.expr(" + ".join(f"y{j} * y{j}" for j in range(proj_dim))).alias(
        "proj_norm2_scaled"
    )
    return (
        p.select("vec_id", "norm2_milli2", pn)
        .where(F.col("norm2_milli2") > 0)
        .withColumn(
            "ratio_ppm",
            F.expr(f"(proj_norm2_scaled * 1000000) DIV ({proj_dim} * norm2_milli2)"),
        )
    )


def jl_audit_oracle(proj_dim: int = 16, dim: int = 64) -> str:
    def sgn(i: int, j: int) -> int:
        return 1 if ((i * 73856093 + j * 19349663) >> 3) % 2 == 0 else -1

    qs = ",\n         ".join(
        f"CAST(ROUND(embedding[{i + 1}] * 1e3, 0) AS BIGINT) AS q{i}"
        for i in range(dim)
    )
    ys = ",\n         ".join(
        "("
        + " + ".join(
            (f"q{i}" if sgn(i, j) == 1 else f"(-q{i})") for i in range(dim)
        )
        + f") AS y{j}"
        for j in range(proj_dim)
    )
    n2 = " + ".join(f"q{i} * q{i}" for i in range(dim))
    pn = " + ".join(f"y{j} * y{j}" for j in range(proj_dim))
    return f"""WITH q AS (
  SELECT vec_id,
         {qs}
  FROM embeddings
),
p AS (
  SELECT vec_id, ({n2}) AS norm2_milli2,
         {ys}
  FROM q
)
SELECT vec_id, norm2_milli2, ({pn}) AS proj_norm2_scaled,
       CAST((({pn}) * 1000000) // ({proj_dim} * norm2_milli2) AS BIGINT)
           AS ratio_ppm
FROM p WHERE norm2_milli2 > 0"""


# ---------------------------------------------------------------------------
# k-center farthest-first seeding (Gonzalez 1985 — the deterministic
# k-means++ initialization)
# ---------------------------------------------------------------------------


def _kc_quantized(emb: DataFrame, dim: int) -> DataFrame:
    cols = [
        F.expr(
            f"CAST(ROUND(try_element_at(cast(embedding as array<double>), {i + 1})"
            f" * 1e3, 0) AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(dim)
    ]
    return emb.select("vec_id", *cols)


def kcenter_seeds(emb: DataFrame, k: int = 4, dim: int = 64) -> DataFrame:
    """`(seed_rank, vec_id, min_dist_milli2)` — farthest-first traversal
    (Gonzalez 1985): the deterministic k-means++ seeding every clustering
    pipeline runs before Lloyd iterations (emb_kmeans_step_shift).  Seed 1
    is the minimum vec_id (documented deterministic start); each next
    seed maximizes its exact quantized-L2 distance to the nearest chosen
    seed, ties to the smallest vec_id.  `min_dist_milli2` is that maximin
    distance at selection time (0 for seed 1) — the 2-approximation
    guarantee of the k-center objective rides on exactly this value.

    Exactness: milli-quantized BIGINT coordinates (the jl_audit scale
    bound), distances exact integer sums of squares; argmax resolved as
    MAX_BY over the pair (mind, -vec_id) — an exact BIGINT-tuple
    comparison: max distance first, ties to the smallest vec_id
    (vec_id is unique, so the ordering is total and deterministic).

    100 TB shape: the k-1 iterations are a DRIVER loop over one plan
    (the kmeans family convention — collect() fetches ONE seed row per
    round, model state broadcasts); each round is one scan computing
    LEAST(running_min, dist_to_new_seed) — the running min is carried as
    a column, so round j costs one distance evaluation, not j.  r8:
    each round is ONE aggregate job — MAX_BY carries the winning row's
    coordinates out with its distance, where the previous shape ran
    three driver round trips per round (max dist, min id among
    attainers, coordinate fetch): 3k-2 jobs -> k.
    """
    q = _kc_quantized(emb, dim).cache()
    first = q.orderBy("vec_id").limit(1).collect()[0]

    def dist_to(row) -> F.Column:
        # ONE parsed SQL string, not a per-term Column fold: the fold
        # paid ~64 py4j round trips per round on the driver (see
        # jl_audit); identical left-associative integer AST.
        return F.expr(
            " + ".join(
                f"(q{i} - ({int(row[f'q{i}'] or 0)})) *"
                f" (q{i} - ({int(row[f'q{i}'] or 0)}))"
                for i in range(dim)
            )
        )

    seeds = [(1, int(first["vec_id"]), 0)]
    cur = q.withColumn("mind", dist_to(first))
    for rank in range(2, k + 1):
        win = cur.agg(
            F.max_by(
                F.struct("vec_id", "mind", *[f"q{i}" for i in range(dim)]),
                F.struct(F.col("mind"), (-F.col("vec_id")).alias("nid")),
            ).alias("w")
        ).collect()[0]["w"]
        md, vid = int(win["mind"]), int(win["vec_id"])
        seeds.append((rank, vid, md))
        if rank < k:
            cur = cur.withColumn("mind", F.least(F.col("mind"), dist_to(win)))
    spark = emb.sparkSession
    out = spark.createDataFrame(
        seeds, "seed_rank long, vec_id long, min_dist_milli2 long"
    )
    q.unpersist()
    return out


def kcenter_seeds_oracle(k: int = 4, dim: int = 64) -> str:
    qs = ",\n         ".join(
        f"CAST(ROUND(embedding[{i + 1}] * 1e3, 0) AS BIGINT) AS q{i}"
        for i in range(dim)
    )

    def dist(a: str, b: str) -> str:
        return " + ".join(
            f"({a}.q{i} - {b}.q{i}) * ({a}.q{i} - {b}.q{i})" for i in range(dim)
        )

    ctes = [
        f"q AS (\n  SELECT vec_id,\n         {qs}\n  FROM embeddings\n)",
        "s1 AS (SELECT * FROM q WHERE vec_id = (SELECT MIN(vec_id) FROM q))",
        f"d1 AS (SELECT q.vec_id, ({dist('q', 's')}) AS mind FROM q, s1 s)",
    ]
    selects = [
        "SELECT 1 AS seed_rank, (SELECT MIN(vec_id) FROM q) AS vec_id,"
        " 0 AS min_dist_milli2"
    ]
    for r in range(2, k + 1):
        p = r - 1
        ctes.append(f"m{p} AS (SELECT MAX(mind) AS md FROM d{p})")
        ctes.append(
            f"sid{r} AS (SELECT MIN(vec_id) AS vid FROM d{p}, m{p}"
            f" WHERE mind = md)"
        )
        selects.append(
            f"SELECT {r} AS seed_rank, (SELECT vid FROM sid{r}) AS vec_id,"
            f" (SELECT md FROM m{p}) AS min_dist_milli2"
        )
        if r < k:
            ctes.append(
                f"s{r} AS (SELECT q.* FROM q, sid{r} WHERE q.vec_id = sid{r}.vid)"
            )
            ctes.append(
                f"d{r} AS (SELECT d{p}.vec_id,"
                f" LEAST(d{p}.mind, ({dist('q', 's')})) AS mind"
                f" FROM q JOIN d{p} USING (vec_id), s{r} s)"
            )
    body = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {body}\n{union}"
