from __future__ import annotations

from pyspark.sql import functions as F

from cloudpelican_lsd_spark.operators import dedup as dedup_ops
from cloudpelican_lsd_spark.operators import similarity as sim_ops
from cloudpelican_lsd_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir)


def test_exact_dedup_finds_planted_dupes(spark, sf_dir):
    d = _docs(spark, sf_dir)
    planted = d.unionByName(
        d.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 1000)
    )
    groups = dedup_ops.exact_duplicates(planted)
    dupes = groups.where(F.col("n_copies") > 1).collect()
    assert len(dupes) == 5
    assert all(r.keeper_id < 5 for r in dupes)  # keeper = lowest id
    kept = dedup_ops.dedup_exact(planted)
    assert kept.count() == d.count()


def test_lsh_finds_identical_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    planted = d.unionByName(
        d.where(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 1000)
    )
    pairs = dedup_ops.lsh_candidate_pairs(planted).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # identical docs share every band → must all be candidates
    for i in range(5):
        assert (i, i + 1000) in got


def test_jaccard_identical_is_full_overlap(spark, sf_dir):
    d = _docs(spark, sf_dir)
    planted = d.unionByName(
        d.where(F.col("doc_id") < 3).withColumn("doc_id", F.col("doc_id") + 1000)
    )
    pairs = dedup_ops.ngram_jaccard_pairs(planted, threshold_num=99, threshold_den=100)
    rows = {(r.doc_a, r.doc_b): (r.inter_cnt, r.union_cnt) for r in pairs.collect()}
    for i in range(3):
        inter, union = rows[(i, i + 1000)]
        assert inter == union  # jaccard == 1.0


def test_simhash_stable_and_identical_for_same_text(spark, sf_dir):
    d = _docs(spark, sf_dir)
    fp1 = {r.doc_id: r.simhash for r in dedup_ops.simhash(d).collect()}
    fp2 = {r.doc_id: r.simhash for r in dedup_ops.simhash(d).collect()}
    assert fp1 == fp2  # deterministic
    assert all(0 <= v < 2**32 for v in fp1.values())


def test_cosine_topk_sanity(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    top = sim_ops.cosine_topk(emb, num_queries=3, k=5)
    rows = top.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert all(r.cid != q for r in rs)  # self excluded
        assert all(-1.000001 <= r.cos <= 1.000001 for r in rs)


def test_lsh_bucket_pairs_subset_of_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = sim_ops.lsh_near_pairs(emb, min_cos_num=3, min_cos_den=10).collect()
    # every reported pair really has cos >= 0.3 (verified value included)
    assert all(r.cos >= 0.3 for r in pairs)


def test_embedding_near_dups_canonical_is_lowest(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    dups = dedup_ops.embedding_near_dups(
        emb, bits=4, min_cos_num=3, min_cos_den=10
    ).collect()
    assert dups  # threshold chosen to produce matches at this sf
    for r in dups:
        assert r.canonical_id < r.doc_id  # canonical = lower id
        assert r.cos >= 0.3 - 1e-6


def test_ivf_candidates_subset_and_ranked(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    rows = sim_ops.ivf_topk(emb, n_centroids=8, nprobe=2, num_queries=3, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r.cos)
    for q, cs in by_q.items():
        assert len(cs) <= 5


def test_corpus_clean_pipeline(spark, sf_dir):
    """Capstone: exact copies and near copies are both removed, keepers
    survive, and n_tokens matches a direct count."""
    from cloudpelican_lsd_spark.operators import corpus as corpus_ops

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = (
        d.unionByName(
            d.where(F.col("doc_id") < 5).withColumn(
                "doc_id", F.col("doc_id") + 1000
            )
        )
        .unionByName(
            d.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 2000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
            )
        )
    )
    out = corpus_ops.corpus_clean(base)
    rows = {r.doc_id: r.n_tokens for r in out.collect()}
    # no planted copy survives: exact dupes die in stage 2, near copies in 3
    # (their original must have passed the gate for the pair to exist)
    gate_pass = {
        r.doc_id
        for r in corpus_ops.corpus_clean(d).select("doc_id").collect()
    }
    for i in range(5):
        assert (i + 1000) not in rows
        if i in gate_pass:
            assert (i + 2000) not in rows, f"near copy of {i} survived"
            assert i in rows, f"keeper {i} missing"
    # token accounting matches a direct computation
    direct = {
        r.doc_id: r.cnt
        for r in d.select(
            "doc_id", F.size(F.split("text", " ")).alias("cnt")
        ).collect()
    }
    for doc_id, n_tok in rows.items():
        if doc_id in direct:
            assert n_tok == direct[doc_id]


def test_jaccard_df_pruning_is_one_sided(spark, sf_dir):
    """Pruned inter counts can only shrink: pruned pairs ⊆ unpruned pairs,
    and a planted stop-shingle present in every doc is excluded."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    # plant a hot trigram shared by ALL docs
    hot = d.select(
        "doc_id", F.concat(F.lit("aa bb cc "), F.col("text")).alias("text")
    )
    full = {
        (r.doc_a, r.doc_b)
        for r in dedup_ops.ngram_jaccard_pairs(hot, threshold_num=0).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b)
        for r in dedup_ops.ngram_jaccard_pairs(
            hot, threshold_num=0, max_df=10
        ).collect()
    }
    assert pruned <= full
    # the hot shingle alone connected every doc pair; pruning removes it
    assert len(pruned) < len(full)


def test_connected_components_merges_chains(spark):
    # chain 1-2-3, triangle 5-6-7, isolated pair 10-11: pairwise output
    # alone would not link 1 and 3 (no direct pair observed)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (5, 7), (10, 11)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup_ops.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (5, 5), (6, 5), (7, 5),
        (10, 10), (11, 10),
    }


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_ops.connected_components(pairs).count() == 0
    assert (
        dedup_ops.connected_components(pairs, method="star").count() == 0
    )


def test_connected_components_star_matches_label(spark):
    """Property: the large-star/small-star variant returns EXACTLY the
    same (doc_id, cluster_id) labeling as min-label propagation on mixed
    random graphs (chains, cliques, isolated pairs, cross-links)."""
    import random

    for seed in (7, 42, 1337):
        rng = random.Random(seed)
        n = 60
        edges = set()
        # random edges over a sparse node space (gaps → non-contiguous ids)
        nodes = rng.sample(range(1, 500), n)
        for _ in range(70):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        pairs = spark.createDataFrame(
            sorted(edges), "doc_a long, doc_b long"
        )
        lbl = {
            (r.doc_id, r.cluster_id)
            for r in dedup_ops.connected_components(pairs, 60).collect()
        }
        star = {
            (r.doc_id, r.cluster_id)
            for r in dedup_ops.connected_components(
                pairs, method="star"
            ).collect()
        }
        assert star == lbl, f"seed {seed}: star != label"


def test_connected_components_chain_star_beats_label(spark):
    """The adversarial long-chain graph (boilerplate chains: doc i ~ doc
    i+1): min-label propagation needs diameter rounds, so at the default
    max_iter=25 it must now raise loudly instead of returning
    half-propagated labels; star alternation converges in O(log² n)
    rounds and labels the whole chain to its minimum."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_ops.connected_components(chain, max_iter=25)

    labels, rounds = dedup_ops._cc_star_rounds(chain)
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(65)}
    # 65-node path: diameter 64, log2(65) ≈ 6 — star must converge far
    # under the label method's 64-round requirement
    assert rounds <= 10, rounds


def test_connected_components_converges_exactly_at_max_iter(spark):
    """Boundary: a graph whose labels finish propagating exactly on the
    final allowed round must SUCCEED — convergence is observed max_iter+1
    times for max_iter propagations (a chain of diameter d needs exactly
    d min-label propagation rounds, so max_iter=d is sufficient)."""
    d = 6
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(d)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup_ops.connected_components(chain, max_iter=d).collect()
    }
    assert got == {(i, 0) for i in range(d + 1)}
    # one round fewer must still raise
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_ops.connected_components(chain, max_iter=d - 1)


def test_minhash_estimate_vs_true_bounds(spark, sf_dir):
    """Every candidate pair's agreement count is in [0, 12], true overlap
    respects inter<=union, and high-agreement pairs (>=9 of 12) really
    are high-Jaccard (>=0.5) — the planted exact dupes must appear with
    full agreement."""
    from cloudpelican_lsd_spark.registry import QUERIES

    rows = QUERIES["dedup_minhash_est_vs_true"](spark, sf_dir).collect()
    assert rows
    full = 0
    for r in rows:
        assert 0 <= r.n_agree <= 12
        assert 0 <= r.inter_n <= r.union_n
        if r.n_agree >= 9:
            assert r.inter_n / r.union_n >= 0.5
        if r.n_agree == 12 and r.inter_n == r.union_n:
            full += 1
    assert full > 0  # planted doc_id -> doc_id+100000 exact copies


def test_ivf_recall_bounds(spark, sf_dir):
    """recall@k must be in [0,1] with n_hits <= k, one row per query, and
    nprobe = n_centroids (probe everything) must give recall 1.0."""
    from cloudpelican_lsd_spark.operators import similarity as sim_ops
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table

    rows = QUERIES["emb_ivf_recall"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= r.k
        assert 0.0 <= r.recall <= 1.0
    full = sim_ops.ivf_recall(
        load_table(spark, "embeddings", sf_dir),
        n_centroids=8, nprobe=8, num_queries=5, k=5,
    ).collect()
    assert all(r.recall == 1.0 for r in full)


def test_kmeans_assign_partitions_all_vectors(spark, sf_dir):
    from cloudpelican_lsd_spark.operators import similarity as sim
    from cloudpelican_lsd_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    conf = sim.kmeans_assign_confusion(emb).collect()
    # every nonzero vector assigned exactly once
    assert sum(r.cnt for r in conf) == emb.count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert {r.assigned_label for r in conf} <= labels


def test_pair_edit_distance_planted_dupes_score_zero(spark, sf_dir):
    from cloudpelican_lsd_spark.operators import dedup
    from cloudpelican_lsd_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, "documents", sf_dir)
    planted = d.unionByName(
        d.where(F.col("doc_id") < 20).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    out = dedup.pair_edit_distance(planted).collect()
    exact = [r for r in out if r.doc_b == r.doc_a + 100000]
    # every planted copy is recalled by LSH and verified with lev 0 / sim 1
    assert len(exact) == 20
    assert all(r.lev == 0 and r.sim == 1.0 for r in exact)
    assert all(0 <= r.sim <= 1 for r in out)


def test_quantize_audit_error_bounded_by_step(spark, sf_dir):
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = {r.vec_id: r for r in QUERIES["emb_quantize_audit"](spark, sf_dir).collect()}
    emb = load_table(spark, "embeddings", sf_dir)
    rng = {
        r.vec_id: (min(r.embedding), max(r.embedding))
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert set(out) == set(rng)
    for vid, r in out.items():
        mn, mx = rng[vid]
        step = (mx - mn) / 255 if mx > mn else 0.0
        # max error of floor-quantization is one full step
        assert r.max_abs_err <= step + 1e-6
        assert 0 <= r.mean_abs_err <= r.max_abs_err + 1e-6


def test_kmeans_step_shift_consistent_with_assignment(spark, sf_dir):
    from cloudpelican_lsd_spark.operators import similarity as sim
    from cloudpelican_lsd_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    conf = sim.kmeans_assign_confusion(emb).collect()
    shift = sim.kmeans_step_shift(emb).collect()
    # member totals agree between the confusion and the shift views
    by_cluster = {}
    for r in conf:
        by_cluster[r.assigned_label] = by_cluster.get(r.assigned_label, 0) + r.cnt
    assert {r.assigned_label: r.n_members for r in shift} == by_cluster
    assert all(r.shift >= 0 for r in shift)


def test_rank_fusion_bounds_and_membership(spark, sf_dir):
    from cloudpelican_lsd_spark.operators import similarity as sim
    from cloudpelican_lsd_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    bf = {(r.qid, r.cid) for r in sim.cosine_topk(emb, 5, 5).collect()}
    ivf = {(r.qid, r.cid) for r in sim.ivf_topk(emb, 8, 2, 5, 5).collect()}
    fused = sim.rank_fusion_topk(emb, 8, 2, 5, 5).collect()
    per_q = {}
    for r in fused:
        assert (r.qid, r.cid) in bf | ivf
        # max rrf = in both lists at rank 1; min > 0
        assert 0 < r.rrf <= round(2 / 61, 6) + 1e-9
        per_q.setdefault(r.qid, []).append(r.rrf)
    for scores in per_q.values():
        assert len(scores) <= 5


def test_emb_dim_health_shape(spark, sf_dir):
    from cloudpelican_lsd_spark import registry

    rows = registry.QUERIES["emb_dim_health"](spark, sf_dir).collect()
    import duckdb

    dim = duckdb.sql(
        f"select max(len(embedding)) from '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert len(rows) == dim
    assert all(r.var_v >= 0 for r in rows)
    assert all(0 <= r.n_zero <= r.n for r in rows)


def test_text_len_correlation_bounds(spark, sf_dir):
    from cloudpelican_lsd_spark import registry

    r = registry.QUERIES["text_len_correlation"](spark, sf_dir).collect()[0]
    # token count and char count must be strongly positively correlated
    assert 0.8 < r.pearson_r <= 1.0


def test_spread_is_gated(spark, sf_dir):
    """SCALING.md contract: `_spread` adds NO Exchange when the input is
    already wide enough (the multi-split-scan case at 100 TB)."""
    d = _docs(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    # pre-partitioned input (>= defaultParallelism): must pass through
    # IDENTICALLY — same plan object, no round-robin Exchange appended
    wide = d.repartition(target)
    out = dedup_ops._spread(wide)
    assert out is wide
    # narrow input: spread does repartition (the local single-file case)
    narrow = d.coalesce(1)
    out2 = dedup_ops._spread(narrow)
    assert out2 is not narrow
    # a keyless Repartition with shuffle=true IS the round-robin exchange
    assert "Repartition" in out2._jdf.queryExecution().logical().toString()
    # r9: the fan-out is SIZED TO THE INPUT (ceil(weight*bytes/quantum),
    # floor 2, cap defaultParallelism) — a tiny table must NOT fan out
    # to defaultParallelism (the r8 unconditional 32-way spread was the
    # round's only attributable driver regression), and the weight knob
    # scales the work estimate for CPU-dense consumers
    est = dedup_ops._plan_size_bytes(narrow)
    assert est > 0
    want = max(2, min(target, -(-est // dedup_ops._SPREAD_BYTES_PER_TASK)))
    assert out2.rdd.getNumPartitions() == want
    boosted = dedup_ops._spread(narrow, weight=1e9)  # absurd weight -> cap
    assert boosted.rdd.getNumPartitions() == target


def test_cdc_overlap_catches_partial_copies(spark):
    """A document embedding a long passage of another shares that
    passage's CDC chunks even when whole-document similarity is low —
    the substring-level dedup signal (dedup.cdc_overlap_pairs)."""
    import random

    rng = random.Random(5)
    words = [f"w{rng.randint(0, 9999)}" for _ in range(400)]
    donor = " ".join(words)                      # ~2.4k chars, ~35 chunks
    passage = " ".join(words[:200])              # first half
    noise = " ".join(f"n{rng.randint(0, 9999)}" for _ in range(150))
    corpus = spark.createDataFrame(
        [(1, donor), (2, noise + " " + passage), (3, noise + " tail")],
        "doc_id LONG, text STRING",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.shared_chunks
        for r in dedup_ops.cdc_overlap_pairs(corpus, min_shared=2).collect()
    }
    assert (1, 2) in pairs, pairs
    assert pairs[(1, 2)] >= 3          # a real passage, not one accident
    assert (1, 3) not in pairs         # noise-only doc shares nothing with donor


def test_pq_topk_and_recall_contract(spark, sf_dir):
    """PQ search: k results per query, self excluded, ADC ascending with
    deterministic ties; the recall audit is consistent with the top-k."""
    from cloudpelican_lsd_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    top = sim_ops.pq_topk(emb, num_queries=5, k=8).collect()
    by_q: dict = {}
    for r in top:
        assert r.qid != r.cid
        by_q.setdefault(r.qid, []).append((r.adc, r.cid))
    assert set(by_q) == set(range(5))
    for qid, rows in by_q.items():
        assert len(rows) == 8
        assert rows == sorted(rows)  # adc asc, cid tie-break
    rec = {r.qid: r for r in sim_ops.pq_recall(emb, num_queries=5, k=8).collect()}
    assert set(rec) == set(range(5))
    for r in rec.values():
        assert 0 <= r.hits <= 8 and abs(r.recall - r.hits / 8) < 1e-9


def test_semantic_prune_contract(spark, sf_dir):
    """SemDeDup prune: partitions every assigned vector, never drops the
    lowest-id member of a cluster, and a planted exact duplicate of an
    existing vector is always dropped (cos = 1 >= tau)."""
    from pyspark.sql import functions as F

    from cloudpelican_lsd_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    out = S.semantic_prune(emb).collect()
    assigned_n = S.nearest_centroid_assign(emb).count()
    assert sum(r.n_members for r in out) == assigned_n
    assert all(r.n_kept + r.n_dropped == r.n_members for r in out)
    assert all(r.n_kept >= 1 for r in out)  # keep-first never empties a cluster

    # hand-computed synthetic case (planting a dup into the real corpus
    # shifts the label-mean centroids and re-clusters borderline vectors,
    # so only a fully controlled input has a closed-form expectation):
    #   label 0: v1=v2=e_x (dup pair), v3=e_y  → centroid (2/3,1/3,0,0)
    #   label 1: v4=v5=v6=e_z                  → centroid (0,0,1,0)
    # All of label 0 assigns to cluster 0 (cos .894/.447 vs 0), label 1
    # to cluster 1.  Keep-first: drop v2 (dup of v1), drop v5,v6.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0, 0.0], 1),
        (6, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    tiny = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r.cluster: (r.n_members, r.n_dropped, r.n_kept)
        for r in S.semantic_prune(tiny).collect()
    }
    assert got == {0: (3, 1, 2), 1: (3, 2, 1)}


def test_semantic_prune_plan_shape(spark, sf_dir):
    """Scale pin: the pair join is equi-keyed on the cluster id (sort-merge
    or shuffled-hash, never a cartesian/BNLJ), and per-pair dots are HOF
    folds — no element-level explode on the pair side."""
    from cloudpelican_lsd_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    plan = S.semantic_prune(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_prune_block_salting_invariant(spark, sf_dir):
    """r8 pair-join block salting: the deterministic (clabel, ba, bb)
    blocking partitions the per-cluster pair set without changing it —
    results are bit-identical across block counts (1 = the unsalted
    shape), and the blocked exchanges are explicit-count (pinned by the
    pmod block columns appearing in the join keys)."""
    from cloudpelican_lsd_spark.operators import similarity as S

    emb = load_table(spark, "embeddings", sf_dir)
    base = sorted(map(tuple, S.semantic_prune(emb, pair_blocks=1).collect()))
    for nb in (3, 8):
        got = sorted(map(tuple, S.semantic_prune(emb, pair_blocks=nb).collect()))
        assert got == base, f"pair_blocks={nb} changed the result"
    plan = S.semantic_prune(emb)._jdf.queryExecution().executedPlan().toString()
    assert "ba" in plan and "bb" in plan
    # r9 (ADVICE): the block columns are INT on both sides — a bigint
    # pmod against an int sequence() made the join keys need casts, so
    # EnsureRequirements stacked a second (AQE-coalescible)
    # hashpartitioning exchange on cast(ba/bb) right after each
    # REPARTITION_BY_NUM exchange, defeating the explicit-count pin.
    # Assert no cast of the block columns survives anywhere in the
    # executed plan: the explicit exchanges must feed the join directly.
    assert "cast(ba" not in plan and "cast(bb" not in plan


def test_c4_audit_rules_and_plan(spark, sf_dir):
    """C4/Gopher rule panel: every rule reports over the full corpus, the
    any_rule row dominates each individual rule, a hand-built fixture
    hits closed-form counts, and the plan is join-free with one scan."""
    from pyspark.sql import functions as F  # noqa: F401

    from cloudpelican_lsd_spark.operators import corpus as C

    out = {r.rule: r for r in C.c4_audit(
        load_table(spark, "documents", sf_dir)).collect()}
    assert set(out) == set(C.C4_RULES) | {"any_rule"}
    n_docs = out["any_rule"].n_docs
    for r in C.C4_RULES:
        assert out[r].n_docs == n_docs
        assert out[r].n_fail <= out["any_rule"].n_fail
        assert abs(out[r].fail_pct - out[r].n_fail / n_docs) < 1e-9

    # closed-form fixture: doc1 fails only too_few_tokens(+punct),
    # doc2 passes everything, doc3 fails TTR + stopword density (+punct)
    fix = spark.createDataFrame(
        [
            (1, "the cat sat."),                                   # 3 tokens
            (2, "the full quick brown foxes jumped over their "
                "lazy dogs while the other animals watched from "
                "their warm burrows under those ancient trees "
                "during an autumn evening festival celebration."),
            (3, " ".join(["zap"] * 40) + "."),
        ],
        "doc_id long, text string",
    )
    got = {r.rule: r.n_fail for r in C.c4_audit(fix).collect()}
    assert got["too_few_tokens"] == 1          # doc1 (3 tokens); doc2=29, doc3=40
    assert got["no_terminal_punct"] == 0
    assert got["low_type_token_ratio"] == 1    # doc3: 1 distinct / 40
    assert got["long_word"] == 0

    plan = C.c4_audit(
        load_table(spark, "documents", sf_dir)
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Relation") == 1


def test_corpus_clean_v3_is_gated_v2(spark, sf_dir):
    """v3 = v2 with the C4 gate: every v3 survivor also survives v2, and
    every doc present in v2 but absent from v3 either fails a gate rule
    itself or was dropped downstream of the gated population change;
    crucially, no v3 survivor fails a gate rule."""
    from pyspark.sql import functions as F

    from cloudpelican_lsd_spark.operators import corpus as C
    from cloudpelican_lsd_spark.registry import QUERIES, _lined_corpus

    v2 = {r.doc_id for r in QUERIES["corpus_clean_v2"](spark, sf_dir).collect()}
    v3 = {r.doc_id for r in QUERIES["corpus_clean_v3"](spark, sf_dir).collect()}
    assert v3  # gate leaves a non-trivial corpus
    # v3 survivors must pass every gate rule on their post-line-dedup text
    from cloudpelican_lsd_spark.operators.textstats import line_dedup

    lined = _lined_corpus(spark, sf_dir)
    docs2 = line_dedup(lined).select(
        "doc_id", F.regexp_replace("clean_text", "\n", " ").alias("text")
    )
    flags = C.c4_flag_exprs()
    failing = {
        r.doc_id
        for r in docs2.where(
            flags["low_type_token_ratio"] | flags["short_mean_token_len"]
        ).collect()
    }
    assert not (v3 & failing)
    # near-dup removal operates on a SUBSET population under the gate, so
    # v3 can only lose docs relative to v2, never gain one v2 rejected
    # for content reasons... except docs v2 dropped as the higher-id
    # near-dup of a pair whose lower member the gate removed.  Verify the
    # overwhelming direction + explain any exceptions:
    gained = v3 - v2
    assert len(gained) <= len(v2 - v3)
    for d in gained:
        assert d not in failing  # gained docs still pass the gate


def test_substring_span_stats_closed_form(spark, sf_dir):
    """Planted duplicated passage: a 12-token run copied between two docs
    marks exactly the union of its 8-token windows (12 tokens) in EACH
    doc; a doc with no repeats reports zero; plan keeps the hot path
    join-free (the only Join is the final per-doc base lookup)."""
    shared = [f"s{i}" for i in range(12)]
    rows = [
        (1, " ".join([f"a{i}" for i in range(4)] + shared
                     + [f"a{i}" for i in range(4, 18)])),     # 30 tokens
        (2, " ".join([f"b{i}" for i in range(10)] + shared
                     + [f"c{i}" for i in range(5)])),          # 27 tokens
        (3, " ".join([f"d{i}" for i in range(20)])),           # 20, clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_kept)
        for r in dedup_ops.substring_span_stats(df, w=8, min_df=2).collect()
    }
    assert got == {1: (30, 12, 18), 2: (27, 12, 15), 3: (20, 0, 20)}

    plan = dedup_ops.substring_span_stats(
        _docs(spark, sf_dir).select("doc_id", "text")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1  # only the final base left-join


def test_substring_span_clean_rebuild(spark):
    """Clean rebuild drops exactly the shared passage, keeps order."""
    shared = [f"s{i}" for i in range(12)]
    rows = [
        (1, " ".join([f"a{i}" for i in range(4)] + shared
                     + [f"a{i}" for i in range(4, 18)])),
        (2, " ".join([f"b{i}" for i in range(10)] + shared
                     + [f"c{i}" for i in range(5)])),
        (3, " ".join([f"d{i}" for i in range(20)])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_kept)
        for r in dedup_ops.substring_span_clean(df, w=8, min_df=2).collect()
    }
    assert got[1] == (
        " ".join([f"a{i}" for i in range(4)] + [f"a{i}" for i in range(4, 18)]),
        18,
    )
    assert got[2] == (
        " ".join([f"b{i}" for i in range(10)] + [f"c{i}" for i in range(5)]),
        15,
    )
    assert got[3] == (" ".join(f"d{i}" for i in range(20)), 20)
    # a doc that is ONE big duplicated span drops out entirely
    dup_all = spark.createDataFrame(
        [(1, " ".join(shared)), (2, " ".join(shared))],
        "doc_id long, text string",
    )
    assert dedup_ops.substring_span_clean(dup_all, w=8, min_df=2).count() == 0


def test_export_training_shards_layout(spark, sf_dir, tmp_path):
    """Shard export: one file per shard directory (no small-files
    explosion), rows inside each file are in pack order, the manifest
    totals match the corpus, and the round-trip preserves every doc."""
    import glob

    from cloudpelican_lsd_spark.operators import corpus as C

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = str(tmp_path / "shards")
    manifest = {r.shard: r for r in C.export_training_shards(
        docs, path, capacity=256, shards=4).collect()}
    assert set(manifest) == {0, 1, 2, 3}
    assert sum(r.n_docs for r in manifest.values()) == docs.count()
    for shard in range(4):
        files = glob.glob(f"{path}/shard={shard}/*.parquet")
        assert len(files) == 1, f"shard {shard}: {len(files)} files"
        pdf = spark.read.parquet(files[0]).collect()
        order = [(r.pack_id, r.start_offset) for r in pdf]
        assert order == sorted(order)  # pack-contiguous on disk
    back = spark.read.parquet(path)
    assert back.select("doc_id").distinct().count() == docs.count()


def test_cross_source_matrix_closed_form(spark):
    """Three byte-identical docs (identical signatures ⇒ certain LSH
    pairs) across two sources: pairs (1,2),(1,3),(2,3) → diagonal srcA
    cell 1, off-diagonal cell 2 regardless of pair orientation."""
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, text, "srcA"),
            (2, text, "srcB"),
            (3, text, "srcA"),
            (4, "a completely different sentence about spark engines", "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source_a, r.source_b): r.n_pairs
        for r in dedup_ops.cross_source_matrix(docs).collect()
    }
    assert got == {("srcA", "srcA"): 1, ("srcA", "srcB"): 2}


def test_source_divergence_closed_form(spark):
    """Hand-computed TVD: A='a a b', B='a b b c' → corpus {a:3,b:3,c:1};
    TVD_A = 5/21, TVD_B = 5/28 (exact rationals; ppb = floor(x·1e9))."""
    from cloudpelican_lsd_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a a b", "A"), (2, "a b b c", "B")],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in textstats.source_divergence(docs).collect()}
    assert rows["A"].n_tokens == 3 and rows["A"].distinct_tokens == 2
    assert rows["B"].n_tokens == 4 and rows["B"].distinct_tokens == 3
    assert rows["A"].tvd_ppb == 10 * 10**9 // 42  # 5/21
    assert rows["B"].tvd_ppb == 10 * 10**9 // 56  # 5/28


def test_source_divergence_identical_sources_zero(spark):
    """Two sources with identical token distributions → TVD exactly 0."""
    from cloudpelican_lsd_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "x y z", "A"), (2, "x y z", "B")],
        "doc_id long, text string, source string",
    )
    assert all(
        r.tvd_ppb == 0
        for r in textstats.source_divergence(docs).collect()
    )


def test_incremental_index_roundtrip(spark, tmp_path):
    """The persisted-index production mode: fingerprint a corpus, write
    the band index to parquet, read it back, and match a re-ingested
    batch against it — each batch doc must hit its byte-identical
    origin; a novel doc must hit nothing."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "totally unrelated content with many words here"),
        ],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "band_index")
    dedup_ops.minhash_band_signatures(corpus).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    batch = spark.createDataFrame(
        [
            (101, "alpha beta gamma delta epsilon zeta"),  # dup of 1
            (102, "a brand new never seen document body text"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.new_id, r.old_id)
        for r in dedup_ops.incremental_near_dup_pairs(batch, index).collect()
    }
    assert (101, 1) in pairs
    assert all(new_id != 102 for new_id, _ in pairs)


def test_hybrid_retrieval_matches_branch_composition(spark, sf_dir):
    """hybrid_retrieval_topk equals RRF composed in Python from the two
    branch operators' own outputs (rank tie rules included)."""
    from cloudpelican_lsd_spark.operators.textstats import bm25_topk

    docs, emb = load_table(spark, "documents", sf_dir), load_table(
        spark, "embeddings", sf_dir
    )
    lex = bm25_topk(docs, k=20).collect()
    vec = [
        r
        for r in sim_ops.cosine_topk(emb, num_queries=1, k=20).collect()
    ]
    r_lex = {
        r.doc_id: i + 1
        for i, r in enumerate(
            sorted(lex, key=lambda r: (-r.score_micro, r.doc_id))
        )
    }
    r_vec = {
        r.cid: i + 1
        for i, r in enumerate(sorted(vec, key=lambda r: (-r.cos, r.cid)))
    }
    scores = {
        d: round(
            (1 / (60 + r_lex[d]) if d in r_lex else 0.0)
            + (1 / (60 + r_vec[d]) if d in r_vec else 0.0),
            6,
        )
        for d in set(r_lex) | set(r_vec)
    }
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:10]
    got = [
        (r.doc_id, r.rrf)
        for r in sim_ops.hybrid_retrieval_topk(docs, emb).collect()
    ]
    assert got == want


def test_band_index_compatibility_guard(spark):
    """A persisted index built with different (num_hashes,
    rows_per_band) is rejected loudly instead of silently matching
    nothing in the incremental join."""
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    idx_43 = dedup_ops.minhash_band_signatures(
        corpus, num_hashes=12, rows_per_band=4
    )
    with _pytest.raises(ValueError, match="rows_per_band"):
        dedup_ops.assert_band_index_compatible(
            idx_43, num_hashes=12, rows_per_band=3
        )
    idx_33 = dedup_ops.minhash_band_signatures(
        corpus, num_hashes=12, rows_per_band=3
    )
    dedup_ops.assert_band_index_compatible(
        idx_33, num_hashes=12, rows_per_band=3
    )  # compatible: no raise
    with _pytest.raises(ValueError, match="max band id"):
        dedup_ops.assert_band_index_compatible(
            idx_33, num_hashes=6, rows_per_band=3
        )


def test_incremental_index_bucketed_layout_skips_index_shuffle(
    spark, sf_dir, tmp_path
):
    """SCALING.md's incremental-index contract, proven on the plan: the
    band index persisted BUCKETED on (band, sig) joins the daily batch
    with strictly fewer Exchanges than a plain parquet index — the
    index side is read co-located; only the (small) batch side
    shuffles."""
    from cloudpelican_lsd_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    batch = docs.where(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    bands = dedup_ops.minhash_band_signatures(docs)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # plain parquet index: join must shuffle BOTH sides
        bands.write.parquet(str(tmp_path / "plain"))
        plain = dedup_ops.incremental_near_dup_pairs(
            batch, spark.read.parquet(str(tmp_path / "plain"))
        )
        rows_p = plain.collect()
        n_plain = (
            plain._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")

        # bucketed index: index side reads co-located
        write_bucketed(
            bands, "t_band_index_b", ["band", "sig"], 4,
            path=str(tmp_path / "bucketed"),
        )
        bucketed = dedup_ops.incremental_near_dup_pairs(
            batch, read_bucketed(spark, "t_band_index_b")
        )
        rows_b = bucketed.collect()
        n_bucketed = (
            bucketed._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")

        assert n_bucketed < n_plain, (n_bucketed, n_plain)
        # same answer either way
        assert {(r.new_id, r.old_id) for r in rows_b} == {
            (r.new_id, r.old_id) for r in rows_p
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_band_index_b")


def test_rag_ingest_chunks_to_ann_end_to_end(spark):
    """Full RAG-ingestion composition: chunk_windows → deterministic
    hash 'embedding' → sign-LSH near-dup — two documents sharing a
    chunk-aligned paragraph are linked through their identical chunks;
    an unrelated doc stays unlinked.  Proves the pieces compose with
    only column plumbing, no glue code."""
    from cloudpelican_lsd_spark.operators.textstats import chunk_windows

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # two full 4-token chunks
    docs = spark.createDataFrame(
        [
            (1, "f1 f2 f3 f4 " + shared),
            (2, shared + " t1 t2 t3 t4"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8"),
        ],
        "doc_id long, text string",
    )
    chunks = chunk_windows(docs, chunk_tokens=4, overlap=0)
    # deterministic fake embedder: 8 floats from the chunk md5 —
    # identical chunk_text => identical vector (cos == 1)
    emb = chunks.select(
        (F.col("doc_id") * 100 + F.col("chunk_id")).alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), i -> CAST(conv(substring("
            "md5(chunk_text), 1 + 2 * i, 2), 16, 10) AS FLOAT) + 1.0F)"
        ).alias("embedding"),
    )
    pairs = sim_ops.lsh_near_pairs(
        emb, bits=4, min_cos_num=99, min_cos_den=100
    ).collect()
    linked_docs = {
        (r.vec_a // 100, r.vec_b // 100)
        for r in pairs
        if r.vec_a // 100 != r.vec_b // 100
    }
    assert (1, 2) in linked_docs
    assert all(3 not in p for p in linked_docs)


def _bloom_pos_py(text: str, i: int, m: int) -> int:
    import hashlib

    return int(hashlib.md5(text.encode()).hexdigest()[4 * i:4 * i + 4], 16) % m


def test_bloom_prefilter_statuses_and_no_false_negatives(spark):
    """every true duplicate is dup_confirmed (Bloom has no false
    negatives), a position-missing doc is new_bloom, and a brute-forced
    colliding-but-different doc is false_positive (m=16 makes collisions
    findable)."""
    from cloudpelican_lsd_spark.operators import dedup as D

    corpus_rows = [(i, f"corpus document number {i} body") for i in range(8)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    cpos = {
        _bloom_pos_py(t, i, 16) for _, t in corpus_rows for i in range(3)
    }
    corpus_texts = {t for _, t in corpus_rows}
    # brute-force one false positive and one bloom miss at m=16
    fp = miss = None
    j = 0
    while fp is None or miss is None:
        cand = f"novel text variant {j}"
        inside = all(_bloom_pos_py(cand, i, 16) in cpos for i in range(3))
        if inside and cand not in corpus_texts and fp is None:
            fp = cand
        if not inside and miss is None:
            miss = cand
        j += 1
    batch = spark.createDataFrame(
        [(100, corpus_rows[3][1]), (101, fp), (102, miss)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in D.bloom_prefilter(corpus, batch, k=3, bits_log2=4).collect()
    }
    assert got == {
        100: "dup_confirmed",
        101: "false_positive",
        102: "new_bloom",
    }


def test_bloom_prefilter_rejects_out_of_range_args(spark):
    """argument validation must survive `python -O` (ValueError, not
    assert, ADVICE r3): k slices must fit the md5 hex and bits_log2 must
    stay a 16-bit slice."""
    import pytest

    from cloudpelican_lsd_spark.operators import dedup as D

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for k, bits in ((9, 4), (0, 4), (3, 17), (3, 0)):
        with pytest.raises(ValueError, match="bloom_prefilter"):
            D.bloom_prefilter(df, df, k=k, bits_log2=bits)


def test_bloom_prefilter_corpus_positions_broadcast(spark, sf_dir):
    """the corpus position set (bounded by 2^bits) must reach the batch
    via a broadcast join — the whole point of the prescreen is that the
    batch never shuffles against the corpus."""
    from cloudpelican_lsd_spark.operators import dedup as D
    from cloudpelican_lsd_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", sf_dir)
    batch = docs.limit(20).select("doc_id", "text")
    out = D.bloom_prefilter(docs, batch)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # statuses agree with a pure-Python bloom over the same corpus
    cpos = {
        _bloom_pos_py(t, i, 1 << 16)
        for t in [r["text"] for r in docs.select("text").collect()]
        for i in range(3)
    }
    texts = {r["doc_id"]: r["text"] for r in batch.collect()}
    corpus_texts = {r["text"] for r in docs.select("text").collect()}
    for r in out.collect():
        t = texts[r["doc_id"]]
        inside = all(_bloom_pos_py(t, i, 1 << 16) in cpos for i in range(3))
        want = (
            "new_bloom" if not inside
            else "dup_confirmed" if t in corpus_texts
            else "false_positive"
        )
        assert r["status"] == want


def test_triplet_mining_matches_python_reference(spark):
    """hardest positive = lowest same-label cosine, negatives = top-k
    different-label cosines, violation = neg > pos - margin; queries with
    no same-label partner drop out."""
    import math

    from cloudpelican_lsd_spark.operators import similarity as S

    vecs = {
        0: ([1.0, 0.0, 0.0] + [0.0] * 61, 1),
        1: ([0.9, 0.1, 0.0] + [0.0] * 61, 1),   # near-dup positive of 0
        2: ([0.5, 0.5, 0.0] + [0.0] * 61, 1),   # harder positive of 0
        3: ([0.95, 0.05, 0.0] + [0.0] * 61, 2), # hard negative of 0
        4: ([0.0, 1.0, 0.0] + [0.0] * 61, 2),   # easy negative
        5: ([0.0, 0.0, 1.0] + [0.0] * 61, 3),   # orphan label: no positive
    }
    emb = spark.createDataFrame(
        [(i, v, l) for i, (v, l) in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    )
    got = [
        (r["qid"], r["pos_id"], r["neg_id"], r["violation"])
        for r in S.triplet_mining(emb, num_queries=6, k=2, margin=0.1)
        .orderBy("qid", F.col("neg_cos").desc(), "neg_id")
        .collect()
    ]

    def cos(a, b):
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return round(sum(x * y for x, y in zip(a, b)) / (da * db), 6)

    want = []
    for qid in sorted(vecs):
        qv, ql = vecs[qid]
        pos = sorted(
            ((cos(qv, v), i) for i, (v, l) in vecs.items() if l == ql and i != qid)
        )
        if not pos:
            continue  # orphan label drops out
        negs = sorted(
            ((-cos(qv, v), i) for i, (v, l) in vecs.items() if l != ql)
        )[:2]
        for ncos, nid in negs:
            want.append((qid, pos[0][1], nid, -ncos > pos[0][0] - 0.1))
    assert got == want
    assert all(q != 5 for q, *_ in got)          # orphan dropped
    got_by_q = {(q, n): v for q, _p, n, v in got}
    assert got_by_q[(0, 3)] is True              # planted hard negative violates


def test_containment_pairs_asymmetric_closed_form(spark):
    """doc 1 is a verbatim prefix of doc 2: containment(1→2)=1 but
    Jaccard=4/9 — the Jaccard op at 1/2 misses the pair, containment
    catches it and labels the direction."""
    from cloudpelican_lsd_spark.operators import dedup as dd

    short = "w1 w2 w3 w4 w5 w6"              # 4 3-shingles
    long = short + " x1 x2 x3 x4 x5"          # 9 3-shingles, superset
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "z1 z2 z3 z4 z5")],
        "doc_id long, text string",
    )
    rows = dd.containment_pairs(
        docs, n=3, threshold_num=9, threshold_den=10
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.inter_cnt == 4 and r.sz_a == 4 and r.sz_b == 9
    assert r.cont_a_ppm == 1000000 and r.relation == "a_in_b"
    # the Jaccard twin at the same corpus and a 1/2 threshold is silent
    assert (
        dd.ngram_jaccard_pairs(docs, n=3, threshold_num=1, threshold_den=2)
        .where("doc_a = 1 AND doc_b = 2")
        .count()
        == 0
    )


def test_containment_pairs_mutual_on_exact_dup(spark):
    """identical docs -> mutual containment, ppm = 1000000 both ways."""
    from cloudpelican_lsd_spark.operators import dedup as dd

    t = "a b c d e f g"
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    r = dd.containment_pairs(docs, n=3).collect()[0]
    assert r.relation == "mutual" and r.cont_a_ppm == r.cont_b_ppm == 1000000


def test_matryoshka_audit_closed_form(spark):
    """Vectors built so the 2-dim prefix ranking INVERTS the full ranking
    for one query: prefix-recall@1 = 0; identical-direction corpus gives
    recall@1 = 1."""
    from cloudpelican_lsd_spark.operators.similarity import matryoshka_audit

    # query 0; candidates 1,2 (4 dims, trunc 2):
    #   c1 = prefix-aligned but tail-opposed -> full cos low, trunc cos high
    #   c2 = prefix-orthogonalish, tail-aligned -> full cos high, trunc low
    rows = [
        (0, [1.0, 0.0, 1.0, 0.0], 0),
        (1, [1.0, 0.0, -1.0, 0.0], 0),
        (2, [0.1, 0.0, 1.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = matryoshka_audit(emb, trunc_dims=2, num_queries=1, k=1).collect()
    assert len(got) == 1 and got[0].n_overlap == 0 and got[0].recall_ppm == 0

    # same-direction corpus: prefix ranking == full ranking
    rows2 = [
        (0, [1.0, 1.0, 1.0, 1.0], 0),
        (1, [2.0, 2.0, 2.0, 2.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),
    ]
    emb2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    )
    got2 = matryoshka_audit(emb2, trunc_dims=2, num_queries=1, k=1).collect()
    assert got2[0].n_overlap == 1 and got2[0].recall_ppm == 1000000


def test_method_agreement_cross_check(spark):
    """agreement counts must reconcile exactly with the two pair
    generators run directly; scrambled word order is the canonical
    simhash-only case (bag-of-words identical -> hamming 0, but 3-gram
    shingle sets disjoint -> no minhash band collision)."""
    from cloudpelican_lsd_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
            (3, "theta eta zeta epsilon delta gamma beta alpha"),  # scrambled
            (4, "totally different words in this unrelated doc x"),
        ],
        "doc_id long, text string",
    )
    mh = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs(docs, 12, 3, 3).collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in dd.simhash_near_pairs(docs, max_hamming=6).collect()
    }
    got = {
        r.status: r.n_pairs for r in dd.method_agreement(docs).collect()
    }
    assert got.get("both", 0) == len(mh & sh)
    assert got.get("minhash_only", 0) == len(mh - sh)
    assert got.get("simhash_only", 0) == len(sh - mh)
    # the planted structure: (1,2) seen by both; scrambles seen by simhash
    assert (1, 2) in mh & sh
    assert (1, 3) in sh - mh and (2, 3) in sh - mh


def test_power_iteration_converges_to_dominant_direction(spark):
    """on a corpus with one dominant axis, a few driver-loop iterations of
    the step (v1 fed back via a literal-projection rewrite) align v with
    that axis; the step itself matches a numpy twin."""
    import numpy as np

    from cloudpelican_lsd_spark.operators.similarity import power_iteration_step

    rng = [
        [10.0, 1.0, 0.0, 0.0],
        [9.0, -1.0, 0.5, 0.0],
        [11.0, 0.5, -0.5, 0.2],
        [10.5, -0.2, 0.1, -0.1],
    ]
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r.dim: (r.y, r.v1) for r in power_iteration_step(emb, dims=4).collect()}

    X = np.array([[float(np.float32(x)) for x in v] for v in rng])
    t = X.sum(axis=1) / 2.0  # v0 = (1,1,1,1)/sqrt(4)
    y = np.array(
        [sum(round(ti * xi, 6) for ti, xi in zip(t, X[:, d])) for d in range(4)]
    )
    nrm = float(np.sqrt(sum(round(s * s, 6) for s in y)))
    for d in range(4):
        assert abs(got[d][0] - round(y[d], 6)) < 1e-9
        assert abs(got[d][1] - round(y[d] / nrm, 6)) < 1e-9
    # dominant axis: |v1| on dim 0 dwarfs the rest
    assert abs(got[0][1]) > 0.99


def test_knn_accuracy_closed_form(spark):
    """two tight label clusters -> every query's 3-NN vote is its own
    cluster's label; a planted mislabeled vector is predicted 'wrong'."""
    from cloudpelican_lsd_spark.operators.similarity import knn_accuracy

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [1.0, 0.1, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.1], 1),
        (4, [0.0, 0.0, 0.9, 0.2], 1),
        (5, [0.0, 0.1, 1.0, 0.0], 1),
        (6, [1.0, 0.05, 0.0, 0.0], 1),  # mislabeled: sits in cluster 0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.qid: r for r in knn_accuracy(emb, k=3, num_queries=7).collect()}
    for qid in (0, 1, 2):
        assert got[qid].pred_label == 0 and got[qid].correct
    for qid in (3, 4, 5):
        assert got[qid].pred_label == 1 and got[qid].correct
    assert got[6].pred_label == 0 and not got[6].correct


def test_dedup_token_savings_reconciles(spark, sf_dir):
    """savings reconcile with cluster membership: removed tokens equal
    the token mass of all non-keeper members, kept_ppm is exact."""
    from cloudpelican_lsd_spark import registry

    rows = {r.source: r for r in registry.QUERIES["dedup_token_savings"](spark, sf_dir).collect()}
    assert rows
    for r in rows.values():
        assert 0 <= r.removed_tokens <= r.total_tokens
        assert r.kept_ppm == (r.total_tokens - r.removed_tokens) * 1000000 // r.total_tokens
    # the planted corpus duplicates doc_id < 50 -> some source must save tokens
    assert any(r.removed_tokens > 0 for r in rows.values())


def test_centroid_outliers_flags_planted_mislabel(spark):
    """a vector labeled into the opposite cluster scores far below its
    own-label centroid; in-cluster vectors score near 1.0."""
    from cloudpelican_lsd_spark.operators.similarity import centroid_outliers

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.1, 0.9, 0.0], 1),
        (4, [1.0, 0.0, 0.0, 0.0], 1),  # mislabeled
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.vec_id: r for r in centroid_outliers(emb).collect()}
    assert not got[0].is_far and not got[2].is_far
    assert got[4].is_far and got[4].cos_own_micro < 500000


def test_ngram_novelty_first_claim(spark):
    """doc 1 claims all its shingles; an exact dup claims none; a half-
    new doc claims exactly the new half."""
    from cloudpelican_lsd_spark.operators.textstats import ngram_novelty

    t1 = "a b c d e f"            # 4 shingles
    t3 = "a b c x y z"            # shares 'a b c', adds 'c x y','x y z','b c x'
    docs = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t3)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in ngram_novelty(docs, n=3).collect()}
    assert got[1].n_shingles == 4 and got[1].n_novel == 4
    assert got[1].novelty_ppm == 1000000
    assert got[2].n_novel == 0 and got[2].novelty_ppm == 0
    # doc 3: shingles {a b c, b c x, c x y, x y z}; only 'a b c' is old
    assert got[3].n_shingles == 4 and got[3].n_novel == 3
    assert got[3].novelty_ppm == 750000

def test_ivf_index_incremental_retrieves_planted_origins(spark, sf_dir):
    """Every re-ingested query vector must retrieve its byte-identical
    origin from the persisted index at cos 1.0 — the planted lower
    bound (same contract as the dedup incremental index)."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents, assign = sim_ops.build_ivf_index(emb, n_centroids=8)
    queries = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    top = sim_ops.ivf_index_topk(queries, cents, assign, nprobe=2, k=10)
    rows = top.collect()
    assert len(rows) == 100  # 10 queries x k=10
    got = {(r.qid, r.cid) for r in rows if r.cos == 1.0}
    for q in range(10):
        assert (q + 100000, q) in got, f"query {q} missed its origin"


def test_ivf_index_bucketed_layout_skips_index_shuffle(spark, sf_dir, tmp_path):
    """The IVF assignment table persisted BUCKETED on cent_id answers the
    incremental query with strictly fewer Exchanges than a plain parquet
    index — the corpus side is read co-located, only the (tiny) probe
    side moves (the write_ivf_index layout contract, plan-pinned like
    the dedup band index)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    cents, assign = sim_ops.build_ivf_index(emb, n_centroids=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge regime (a huge backfill batch) — with a
        # broadcastable batch the index side never moves in either layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # plain parquet index
        assign.write.parquet(str(tmp_path / "assign_plain"))
        cents_p = cents
        plain = sim_ops.ivf_index_topk(
            queries, cents_p, spark.read.parquet(str(tmp_path / "assign_plain")),
            nprobe=2, k=10,
        )
        rows_p = plain.collect()
        n_plain = (
            plain._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")

        # persisted bucketed index through the write/read helpers
        sim_ops.write_ivf_index(
            emb, "t_ivf_assign_b", str(tmp_path / "ivf_idx"),
            n_centroids=8, num_buckets=4, layout="bucketed",
        )
        cents_b, assign_b = sim_ops.read_ivf_index(
            spark, "t_ivf_assign_b", str(tmp_path / "ivf_idx")
        )
        sim_ops.assert_ivf_index_compatible(cents_b, assign_b, 8, 64)
        bucketed = sim_ops.ivf_index_topk(
            queries, cents_b, assign_b, nprobe=2, k=10
        )
        rows_b = bucketed.collect()
        n_bucketed = (
            bucketed._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")

        assert n_bucketed < n_plain, (n_bucketed, n_plain)
        assert {(r.qid, r.cid, r.cos) for r in rows_b} == {
            (r.qid, r.cid, r.cos) for r in rows_p
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_ivf_assign_b")


def test_ivf_index_compat_checker(spark, sf_dir):
    """assert_ivf_index_compatible fails fast on centroid-count and
    dimension mismatches, and passes a matching index."""
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    cents, assign = sim_ops.build_ivf_index(emb, n_centroids=8)
    sim_ops.assert_ivf_index_compatible(cents, assign, 8, 64)  # no raise
    with _pytest.raises(ValueError, match="centroids persisted"):
        sim_ops.assert_ivf_index_compatible(cents, assign, 16, 64)
    with _pytest.raises(ValueError, match="dim"):
        sim_ops.assert_ivf_index_compatible(cents, assign, 8, 32)
    # truncated assignment vectors (index built for a different model)
    assign32 = assign.withColumn("emb", F.slice("emb", 1, 32))
    with _pytest.raises(ValueError, match="assignment vectors"):
        cents32ok = cents  # centroids pass at 64; assignment side trips
        sim_ops.assert_ivf_index_compatible(cents32ok, assign32, 8, 64)
    # empty index: vacuously compatible
    sim_ops.assert_ivf_index_compatible(
        cents, assign.where(F.lit(False)), 8, 64
    )


def test_pq_index_incremental_origin_achieves_min_adc(spark, sf_dir):
    """A re-ingested query vector's origin achieves the GLOBAL minimum
    possible ADC (its own per-subspace argmin codes), so with cid-asc
    tiebreak each origin must appear in its query's top-k."""
    emb = load_table(spark, "embeddings", sf_dir)
    codebook, codes = sim_ops.build_pq_index(emb, m=8, n_codes=16, dim=64)
    queries = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    top = sim_ops.pq_index_topk(queries, codebook, codes, m=8, dim=64, k=10)
    rows = top.collect()
    assert len(rows) == 100
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append((r.adc, r.cid))
    for q in range(10):
        got = by_q[q + 100000]
        min_adc = min(a for a, _ in got)
        assert (min_adc, q) in [
            (a, c) for a, c in got
        ], f"query {q} origin missing from top-k"
        # origin sits at the global minimum ADC
        assert any(a == min_adc and c == q for a, c in got)


def test_pq_index_compat_checker(spark, sf_dir):
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    codebook, codes = sim_ops.build_pq_index(emb, m=8, n_codes=16, dim=64)
    sim_ops.assert_pq_index_compatible(codebook, codes, 8, 16, 64)  # ok
    with _pytest.raises(ValueError, match="codebook has"):
        sim_ops.assert_pq_index_compatible(codebook, codes, 8, 32, 64)
    with _pytest.raises(ValueError, match="vs caller"):
        # same row count (n_codes*dim) but different geometry: m=16
        # implies max_s=15 while the persisted codebook has max_s=7
        sim_ops.assert_pq_index_compatible(codebook, codes, 16, 16, 64)
    # corrupted code table: subspace id outside m
    bad = codes.withColumn("s", F.col("s") + 100)
    with _pytest.raises(ValueError, match="code row"):
        sim_ops.assert_pq_index_compatible(codebook, bad, 8, 16, 64)


def test_simhash_pair_explodes_carry_explicit_spread_exchange(spark, sf_dir):
    """Plan pin for the sf1-revealed fix: both simhash pair operators
    must keep an EXPLICIT-count round-robin exchange ahead of their
    row-amplifying explodes (AQE sizes post-shuffle partitions by input
    bytes, so without it the compact fp-pair rows coalesce to 1-2 tasks
    and the doc-pair expansion single-threads — measured 91.6M pairs in
    ONE task on the 10x corpus)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    for fn in (
        lambda d: dedup_ops.simhash_near_pairs(d, max_hamming=6),
        lambda d: dedup_ops.simhash_near_pairs_complete(d, 3, 4),
    ):
        plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
        # two spread points per operator: the within-group explode and
        # the cross-group expansion (plan prints twice under AQE; just
        # require presence)
        assert "RoundRobinPartitioning" in plan, plan[:2000]


def test_ivf_index_topk_consistent_with_ivf_topk(spark, sf_dir):
    """Cross-operator consistency: a re-ingested corpus vector queried
    through the PERSISTED index must rank exactly like ivf_topk ranks
    the original vector (same centroids, same probes), once its own
    cos-1.0 origin hit is removed — the two paths may never disagree on
    neighbor order."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = sim_ops.ivf_topk(
        emb, n_centroids=8, nprobe=2, num_queries=5, k=10
    ).collect()
    cents, assign = sim_ops.build_ivf_index(emb, n_centroids=8)
    queries = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    # k+1 so dropping the origin hit leaves a full k to compare
    inc = sim_ops.ivf_index_topk(queries, cents, assign, nprobe=2, k=11)
    got = {}
    for r in inc.collect():
        q = r.qid - 100000
        if r.cid == q:
            continue  # the origin's own cos-1.0 hit
        got.setdefault(q, []).append((r.cos, r.cid))
    want = {}
    for r in base:
        want.setdefault(r.qid, []).append((r.cos, r.cid))
    for q in range(5):
        got_sorted = sorted(got[q], key=lambda t: (-t[0], t[1]))[:10]
        want_sorted = sorted(want[q], key=lambda t: (-t[0], t[1]))
        assert got_sorted == want_sorted, f"query {q} ranking diverged"


def test_ivf_index_append_maintenance(spark, sf_dir, tmp_path):
    """Daily index maintenance: a new batch assigned to the EXISTING
    centroids and appended to the bucketed table becomes retrievable by
    the next incremental query, and the co-location contract survives
    the append (same Exchange count before and after)."""
    emb = load_table(spark, "embeddings", sf_dir)
    try:
        # index over the corpus MINUS vectors 100-109 (the "new" batch)
        old = emb.where(
            (F.col("vec_id") < 100) | (F.col("vec_id") >= 110)
        )
        sim_ops.write_ivf_index(
            old, "t_ivf_appendable", str(tmp_path / "idx"),
            n_centroids=8, num_buckets=4,
        )
        cents, assign = sim_ops.read_ivf_index(
            spark, "t_ivf_appendable", str(tmp_path / "idx")
        )
        n_before = assign.count()
        queries = emb.where(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
        ).select((F.col("vec_id") + 100000).alias("qid"), "embedding")
        top_before = sim_ops.ivf_index_topk(queries, cents, assign, 2, 10)
        n_ex_before = (
            top_before._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")
        hits_before = {
            (r.qid, r.cid) for r in top_before.collect() if r.cos == 1.0
        }
        assert not any(q + 100000 == qid and q == cid
                       for q in range(100, 110) for qid, cid in hits_before)

        # append the batch, re-read, re-query: origins now retrievable
        batch = emb.where(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
        ).select("vec_id", "embedding")
        sim_ops.append_to_ivf_index(batch, cents, "t_ivf_appendable", 4)
        cents2, assign2 = sim_ops.read_ivf_index(
            spark, "t_ivf_appendable", str(tmp_path / "idx")
        )
        assert assign2.count() == n_before + 10
        top_after = sim_ops.ivf_index_topk(queries, cents2, assign2, 2, 10)
        n_ex_after = (
            top_after._jdf.queryExecution().executedPlan().toString()
        ).count("Exchange")
        got = {(r.qid, r.cid) for r in top_after.collect() if r.cos == 1.0}
        for q in range(100, 110):
            assert (q + 100000, q) in got, f"appended vector {q} not found"
        # bucketed co-location survives the append
        assert n_ex_after == n_ex_before, (n_ex_before, n_ex_after)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_appendable")


def test_ivf_partitioned_layout_prunes_scan_to_probed_cells(spark, sf_dir, tmp_path):
    """The DEFAULT partitioned layout's contract: dynamic partition
    pruning restricts the index scan to the probed cells, so each query
    batch reads ~nprobe/n_centroids of the corpus table — the actual
    IVF promise, realized by the Spark-native DPP mechanism."""
    emb = load_table(spark, "embeddings", sf_dir)
    try:
        sim_ops.write_ivf_index(
            emb, "t_ivf_part", str(tmp_path / "ivf_part"), n_centroids=8
        )
        cents, assign = sim_ops.read_ivf_index(
            spark, "t_ivf_part", str(tmp_path / "ivf_part")
        )
        sim_ops.assert_ivf_index_compatible(cents, assign, 8, 64)
        # ONE query → at most nprobe=2 of the 8 cells are probed
        queries = emb.where(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 100000).alias("qid"), "embedding"
        )
        top = sim_ops.ivf_index_topk(queries, cents, assign, 2, 10)
        rows = top.collect()
        assert len(rows) == 10
        assert any(r.cid == 0 and r.cos == 1.0 for r in rows)
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:1500]
        # appends stay partition-local and readable (count the table
        # BEFORE the append — the DataFrame is lazy and would re-read)
        n_before = assign.count()
        batch = emb.where(F.col("vec_id") == 1).select("vec_id", "embedding")
        sim_ops.append_to_ivf_index(batch, cents, "t_ivf_part")
        _, assign2 = sim_ops.read_ivf_index(
            spark, "t_ivf_part", str(tmp_path / "ivf_part")
        )
        assert assign2.count() == n_before + 1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_part")


def test_index_operators_reject_silent_empty_params(spark, sf_dir):
    """Parameter guards on the index operators: values that would
    silently return empty results (or mis-bucket dimensions into a
    phantom subspace) must raise, per the engine's loud-failure
    contract."""
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    with _pytest.raises(ValueError, match="at least one"):
        sim_ops.build_ivf_index(emb, n_centroids=0)
    cents, assign = sim_ops.build_ivf_index(emb, 8)
    q = emb.where(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    with _pytest.raises(ValueError, match="nprobe"):
        sim_ops.ivf_index_topk(q, cents, assign, nprobe=0, k=10)
    with _pytest.raises(ValueError, match="k="):
        sim_ops.ivf_index_topk(q, cents, assign, nprobe=2, k=0)
    with _pytest.raises(ValueError, match="must divide dim"):
        sim_ops.build_pq_index(emb, m=7, n_codes=16, dim=64)
    with _pytest.raises(ValueError, match="n_codes"):
        sim_ops.build_pq_index(emb, m=8, n_codes=0, dim=64)
    cb, codes = sim_ops.build_pq_index(emb, 8, 16, 64)
    with _pytest.raises(ValueError, match="must divide dim"):
        sim_ops.pq_index_topk(q, cb, codes, m=7, dim=64, k=10)


def test_ivfpq_index_origin_achieves_min_adc_in_probed_cell(spark, sf_dir):
    """A re-ingested query's nearest probe cell is its origin's cell
    (identical exact-integer coarse scores), and AMONG THAT CELL'S
    candidates the origin's codes are the per-subspace argmins of
    exactly the query's residual LUT — the per-cell planted lower
    bound.  The bound is NOT global: the other probed cell scores
    against a different residual LUT and can legitimately undercut the
    origin's quantization error."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents, codebook, codes = sim_ops.build_ivfpq_index(
        emb, n_centroids=8, m=8, n_codes=16, dim=64
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    top = sim_ops.ivfpq_index_topk(queries, cents, codebook, codes, 2, 10)
    rows = top.collect()
    assert len(rows) == 100
    cell_of = {
        r.vec_id: r.cent_id
        for r in codes.select("vec_id", "cent_id").distinct().collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append((r.adc, r.cid))
    for q in range(10):
        got = by_q[q + 100000]
        assert any(c == q for _, c in got), f"query {q} origin missing"
        origin_adc = min(a for a, c in got if c == q)
        same_cell = [a for a, c in got if cell_of[c] == cell_of[q]]
        assert origin_adc == min(same_cell), (
            f"query {q}: origin not at its cell's minimum ADC"
        )


def test_ivfpq_partitioned_layout_prunes_scan_to_probed_cells(
    spark, sf_dir, tmp_path
):
    """The persisted IVF-PQ code table keeps the IVF layout contract:
    dynamic partition pruning restricts the code-table scan to the
    probed cells, while the scan rows themselves are 8-byte codes —
    both index wins in one plan."""
    emb = load_table(spark, "embeddings", sf_dir)
    try:
        sim_ops.write_ivfpq_index(
            emb, "t_ivfpq_codes", str(tmp_path / "ivfpq"),
            n_centroids=8, m=8, n_codes=16, dim=64,
        )
        cents, codebook, codes = sim_ops.read_ivfpq_index(
            spark, "t_ivfpq_codes", str(tmp_path / "ivfpq")
        )
        sim_ops.assert_ivfpq_index_compatible(
            cents, codebook, codes, 8, 8, 16, 64
        )
        queries = emb.where(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 100000).alias("qid"), "embedding"
        )
        top = sim_ops.ivfpq_index_topk(queries, cents, codebook, codes, 2, 10)
        rows = top.collect()
        assert len(rows) == 10
        # the origin is retrieved (per-cell lower bound; cross-cell
        # candidates may legitimately rank above it)
        assert any(r.cid == 0 for r in rows)
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:1500]
        # the persisted code table carries no vector column — the query
        # path never touches a raw corpus embedding
        assert "vec_id" in codes.columns and "emb" not in codes.columns
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivfpq_codes")


def test_ivfpq_index_matches_inline_build_and_compat_checker(
    spark, sf_dir, tmp_path
):
    """Persisted artifacts answer identically to the inline build, and
    the compat checker trips on every (n_centroids, m, n_codes, dim)
    mismatch while passing the matching index."""
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    cents, codebook, codes = sim_ops.build_ivfpq_index(emb, 8, 8, 16, 64)
    queries = emb.where(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100000).alias("qid"), "embedding"
    )
    inline = {
        (r.qid, r.cid, r.adc)
        for r in sim_ops.ivfpq_index_topk(
            queries, cents, codebook, codes, 2, 10
        ).collect()
    }
    try:
        sim_ops.write_ivfpq_index(
            emb, "t_ivfpq_m", str(tmp_path / "ivfpq_m"), 8, 8, 16, 64
        )
        c2, b2, k2 = sim_ops.read_ivfpq_index(
            spark, "t_ivfpq_m", str(tmp_path / "ivfpq_m")
        )
        persisted = {
            (r.qid, r.cid, r.adc)
            for r in sim_ops.ivfpq_index_topk(queries, c2, b2, k2, 2, 10).collect()
        }
        assert persisted == inline
        sim_ops.assert_ivfpq_index_compatible(c2, b2, k2, 8, 8, 16, 64)
        with _pytest.raises(ValueError, match="centroids have"):
            sim_ops.assert_ivfpq_index_compatible(c2, b2, k2, 16, 8, 16, 64)
        with _pytest.raises(ValueError, match="codebook"):
            sim_ops.assert_ivfpq_index_compatible(c2, b2, k2, 8, 8, 32, 64)
        with _pytest.raises(ValueError, match="codebook"):
            sim_ops.assert_ivfpq_index_compatible(c2, b2, k2, 8, 4, 16, 64)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivfpq_m")
    with _pytest.raises(ValueError, match="must divide dim"):
        sim_ops.build_ivfpq_index(emb, 8, 7, 16, 64)
    with _pytest.raises(ValueError, match=">= 1"):
        sim_ops.build_ivfpq_index(emb, 0, 8, 16, 64)
    with _pytest.raises(ValueError, match="nprobe"):
        sim_ops.ivfpq_index_topk(queries, cents, codebook, codes, 0, 10)
    with _pytest.raises(ValueError, match="k="):
        sim_ops.ivfpq_index_topk(queries, cents, codebook, codes, 2, 0)


def test_ivfpq_index_append_maintenance(spark, sf_dir, tmp_path):
    """The maintenance cycle of the combined index: a vector absent from
    the persisted code table is appended (assigned + encoded via the
    SAME helpers the build used) and becomes retrievable, with the query
    plan unchanged."""
    emb = load_table(spark, "embeddings", sf_dir)
    seed = emb.where(F.col("vec_id") != 42)
    try:
        sim_ops.write_ivfpq_index(
            emb=seed, table="t_ivfpq_app", path=str(tmp_path / "ivfpq_app"),
            n_centroids=8, m=8, n_codes=16, dim=64,
        )
        cents, codebook, codes = sim_ops.read_ivfpq_index(
            spark, "t_ivfpq_app", str(tmp_path / "ivfpq_app")
        )
        q42 = emb.where(F.col("vec_id") == 42).select(
            (F.col("vec_id") + 100000).alias("qid"), "embedding"
        )
        before = sim_ops.ivfpq_index_topk(q42, cents, codebook, codes, 2, 10)
        assert all(r.cid != 42 for r in before.collect())
        n_before = codes.count()
        batch = emb.where(F.col("vec_id") == 42).select("vec_id", "embedding")
        sim_ops.append_to_ivfpq_index(
            batch, cents, codebook, "t_ivfpq_app", m=8, dim=64
        )
        _, _, codes2 = sim_ops.read_ivfpq_index(
            spark, "t_ivfpq_app", str(tmp_path / "ivfpq_app")
        )
        assert codes2.count() == n_before + 8  # m rows per vector
        after = sim_ops.ivfpq_index_topk(q42, cents, codebook, codes2, 2, 10)
        rows = after.collect()
        # origin now retrieved (per-cell lower bound — cross-cell
        # candidates may rank above it; before the append it was absent)
        assert any(r.cid == 42 for r in rows)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivfpq_app")


def test_ivfpq_recall_bounds_and_exact_self_consistency(spark, sf_dir):
    """Recall is in [0,1] with hits <= k for every query, and the exact
    ground-truth branch agrees with pq_recall's exact branch (same
    fixed-point L2, same tie rules) — the audit's denominator can't
    drift between the two index families."""
    emb = load_table(spark, "embeddings", sf_dir)
    rows = sim_ops.ivfpq_recall(emb).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.hits <= 10
        assert 0.0 <= r.recall <= 1.0
        assert abs(r.recall - r.hits / 10) < 1e-9


def test_dedup_param_guards_raise_not_assert(spark, sf_dir):
    """Parameter guards on the dedup surface are real raises, not
    asserts (`python -O` strips asserts): out-of-envelope num_hashes,
    zero-band combinations, and non-dividing simhash blocks all fail
    loudly instead of silently reading past the digest / building an
    empty LSH table / breaking the pigeonhole guarantee."""
    import pytest as _pytest

    docs = load_table(spark, "documents", sf_dir)
    with _pytest.raises(ValueError, match="sliced-md5"):
        dedup_ops.minhash_signatures(docs, num_hashes=13)
    with _pytest.raises(ValueError, match="sliced-md5"):
        dedup_ops.minhash_signatures(docs, num_hashes=0)
    mins = dedup_ops.minhash_signatures(docs, num_hashes=12)
    with _pytest.raises(ValueError, match="zero bands"):
        dedup_ops.bands_from_signatures(mins, num_hashes=2, rows_per_band=3)
    with _pytest.raises(ValueError, match="zero bands"):
        dedup_ops.bands_from_signatures(mins, 12, rows_per_band=0)
    with _pytest.raises(ValueError, match="divide 32"):
        dedup_ops.simhash_near_pairs_complete(docs, n_blocks=5)
    from cloudpelican_lsd_spark.operators import textstats as ts_ops

    with _pytest.raises(ValueError, match="overlap"):
        ts_ops.chunk_windows(docs, 24, overlap=24).count()


def test_semantic_decontaminate_broadcast_plan_and_contract(spark, sf_dir):
    """The eval side broadcasts (no sort-merge join anywhere — the train
    side never shuffles for the contamination probe), counts are
    consistent (contaminated + clean == train), eval vectors are
    excluded from the train side, and a degenerate threshold
    denominator is rejected."""
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    out = sim_ops.semantic_decontaminate(emb)
    rows = out.collect()
    assert rows, "expected at least one label row"
    n_eval = emb.where(
        ((F.col("vec_id") % 97) == 0) & (F.col("vec_id") < 97 * 20)
    ).count()
    total = sum(r.n_train_vecs for r in rows)
    assert total == emb.count() - n_eval  # sf0.001 has no zero-norm rows
    for r in rows:
        assert r.n_contaminated + r.n_clean == r.n_train_vecs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("AdaptiveSparkPlan")[0]
    with _pytest.raises(ValueError, match="denominator"):
        sim_ops.semantic_decontaminate(emb, min_cos_den=0)


def test_margin_scoring_contract(spark, sf_dir):
    """Margin rows cover exactly the query-side top-k (none dropped on
    this corpus — neighborhood sums are positive), each row carries its
    unchanged raw cosine alongside the corrected margin, and degenerate
    params are rejected."""
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    rows = sim_ops.margin_scoring(emb).collect()
    base = {(r.qid, r.cid): r.cos for r in sim_ops.cosine_topk(emb).collect()}
    assert {(r.qid, r.cid) for r in rows} == set(base)
    for r in rows:
        assert r.cos == base[(r.qid, r.cid)]
        assert r.margin > 0  # top-k cosines are positive on this corpus
    with _pytest.raises(ValueError, match="num_queries"):
        sim_ops.margin_scoring(emb, num_queries=0)
    with _pytest.raises(ValueError, match="k="):
        sim_ops.margin_scoring(emb, k=0)


def test_prototype_pruning_fraction_and_tie_rule(spark, sf_dir):
    """Per label: the realized drop count never exceeds the exact
    floor(n/4) target (ties under-drop at bucket granularity), every
    dropped vector's cosine is >= every kept vector's cosine within its
    label, and degenerate fractions are rejected."""
    import pytest as _pytest

    emb = load_table(spark, "embeddings", sf_dir)
    rows = sim_ops.prototype_pruning(emb).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    assert by_label
    for lbl, members in by_label.items():
        dropped = [r for r in members if r.action == "drop_easy"]
        kept = [r for r in members if r.action == "keep"]
        assert len(dropped) + len(kept) == len(members)
        assert len(dropped) * 4 <= len(members)  # never over-drops
        if dropped and kept:
            # dropped buckets form a prefix of the descending cosine
            # order, so the invariant is clean: every dropped cosine is
            # >= every kept cosine (a tied bucket is never split)
            assert min(r.cos for r in dropped) >= max(r.cos for r in kept)
    with _pytest.raises(ValueError, match="drop fraction"):
        sim_ops.prototype_pruning(emb, drop_num=3, drop_den=2)
    with _pytest.raises(ValueError, match="drop fraction"):
        sim_ops.prototype_pruning(emb, drop_num=1, drop_den=0)


def test_jl_audit_concentration(spark, sf_dir):
    from cloudpelican_lsd_spark.operators import similarity as sim
    from cloudpelican_lsd_spark.sources.tables import load_table

    rows = sim.jl_audit(load_table(spark, "embeddings", sf_dir), 16, 64).collect()
    assert rows
    ratios = [r["ratio_ppm"] / 1e6 for r in rows]
    mean = sum(ratios) / len(ratios)
    # E[ratio]=1, relative spread ~sqrt(2/16)=0.35; the MEAN over >=100
    # vectors concentrates much tighter
    assert 0.8 < mean < 1.2, mean
    for r in rows:
        assert r["norm2_milli2"] > 0
        assert r["proj_norm2_scaled"] >= 0


def test_jl_audit_exact_on_known_vector(spark):
    from cloudpelican_lsd_spark.operators import similarity as sim

    # one-hot vector: projection is +-1e3 in every output dim ->
    # proj_norm2 = 16e6, norm2 = 1e6, ratio = 1e6 exactly
    vec = [0.0] * 64
    vec[5] = 1.0
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    r = sim.jl_audit(df, 16, 64).collect()[0]
    assert r["norm2_milli2"] == 1_000_000
    assert r["proj_norm2_scaled"] == 16 * 1_000_000
    assert r["ratio_ppm"] == 1_000_000


def test_kcenter_seeds_properties(spark, sf_dir):
    from cloudpelican_lsd_spark.operators import similarity as sim
    from cloudpelican_lsd_spark.sources.tables import load_table

    rows = sorted(
        sim.kcenter_seeds(load_table(spark, "embeddings", sf_dir), k=4).collect(),
        key=lambda r: r["seed_rank"],
    )
    assert [r["seed_rank"] for r in rows] == [1, 2, 3, 4]
    assert len({r["vec_id"] for r in rows}) == 4
    assert rows[0]["min_dist_milli2"] == 0
    # maximin radii are non-increasing (farthest-first invariant)
    d = [r["min_dist_milli2"] for r in rows[1:]]
    assert d[0] >= d[1] >= d[2] > 0


def test_kcenter_seeds_matches_python_reference(spark):
    from cloudpelican_lsd_spark.operators import similarity as sim

    vecs = {
        1: [0.0] * 64,
        2: [1.0] + [0.0] * 63,
        3: [0.0, 2.0] + [0.0] * 62,
        4: [0.5] * 64,
        5: [0.0] * 63 + [3.0],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    got = sorted(
        [(r["seed_rank"], r["vec_id"], r["min_dist_milli2"]) for r in
         sim.kcenter_seeds(df, k=3).collect()]
    )
    q = {i: [round(x * 1e3) for x in v] for i, v in vecs.items()}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(q[a], q[b]))

    seeds = [1]
    want = [(1, 1, 0)]
    for rank in (2, 3):
        best = max(
            ((min(d2(v, s) for s in seeds), -v) for v in q if v not in seeds)
        )
        md, vid = best[0], -best[1]
        want.append((rank, vid, md))
        seeds.append(vid)
    assert got == sorted(want)


def test_winnowing_clusters_consistent_with_pairs(spark, sf_dir):
    """Every pair endpoint appears in the clusters with both endpoints
    sharing a cluster_id; cluster_id is the component minimum."""
    from cloudpelican_lsd_spark.operators import dedup as dd
    from cloudpelican_lsd_spark.operators import textstats as t2
    from cloudpelican_lsd_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in t2.winnowing_pairs(docs, 8, 4, 8, 3).collect()
    ]
    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.connected_components(
            t2.winnowing_pairs(docs, 8, 4, 8, 3).select("doc_a", "doc_b")
        ).collect()
    }
    assert pairs, "fixture lost its pairs"
    for a, b in pairs:
        assert cc[a] == cc[b]
    for n, c in cc.items():
        assert c <= n
        assert cc[c] == c  # the label is itself a member with that label


# ---------------------------------------------------------------------------
# dedup threshold sweep (policy curve)
# ---------------------------------------------------------------------------


def test_threshold_sweep_matches_estimate_table(spark, sf_dir):
    """The sweep must be EXACTLY the per-threshold aggregation of the
    minhash_estimate_vs_true table it composes on — recomputed in
    Python — and monotone non-increasing in the threshold."""
    d = _docs(spark, sf_dir)
    planted = d.unionByName(
        d.where(F.col("doc_id") < 20).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    est = dedup_ops.minhash_estimate_vs_true(
        planted, num_hashes=12, rows_per_band=3, n=3
    ).collect()
    assert est, "no candidate pairs at test scale"
    got = {
        r.thr_pct: r
        for r in dedup_ops.threshold_sweep(
            planted, num_hashes=12, rows_per_band=3, n=3
        ).collect()
    }
    assert sorted(got) == [50, 60, 70, 80, 90]
    for t in got:
        tp = [r for r in est
              if r.union_n > 0 and r.inter_n * 100 >= t * r.union_n]
        ep = [r for r in est if r.n_agree * 100 >= t * 12]
        assert got[t].n_pairs_true == len(tp), t
        assert got[t].n_pairs_est == len(ep), t
        assert got[t].n_docs_flagged == len({r.doc_b for r in tp}), t
    # policy curve shape: tighter cut never passes more
    for lo, hi in zip([50, 60, 70, 80], [60, 70, 80, 90]):
        assert got[hi].n_pairs_true <= got[lo].n_pairs_true
        assert got[hi].n_pairs_est <= got[lo].n_pairs_est
        assert got[hi].n_docs_flagged <= got[lo].n_docs_flagged
    # planted exact copies have Jaccard 1 -> survive even the 90% cut
    assert got[90].n_pairs_true >= 1


def test_ivf_probe_sweep_matches_ivf_recall(spark, sf_dir):
    """The sweep's nprobe=2 row must equal the macro-aggregation of the
    independent per-query ivf_recall path (two code paths, one truth),
    and recall must be monotone non-decreasing in nprobe with
    n_truth = num_queries * k at every point."""
    emb = load_table(spark, "embeddings", sf_dir)
    got = {r.nprobe: r for r in sim_ops.ivf_probe_sweep(
        emb, n_centroids=8, probes=(1, 2, 4), num_queries=10, k=10
    ).collect()}
    assert sorted(got) == [1, 2, 4]
    per_q = sim_ops.ivf_recall(
        emb, n_centroids=8, nprobe=2, num_queries=10, k=10
    ).collect()
    assert got[2].n_hits == sum(r.n_hits for r in per_q)
    assert got[2].n_truth == sum(r.k for r in per_q)
    assert got[1].n_hits <= got[2].n_hits <= got[4].n_hits
    for r in got.values():
        assert r.n_truth == 100
        assert 0.0 <= r.recall <= 1.0
        assert r.recall == r.n_hits / r.n_truth
