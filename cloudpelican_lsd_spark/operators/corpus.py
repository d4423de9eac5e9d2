"""End-to-end corpus-cleaning pipeline: the capstone training-data operator.

Composes the north-star extensions (quality gate → language gate → exact
dedup → near-dup removal → token accounting) into ONE declarative Catalyst
plan — the shape a 100 TB pre-training data cleanup actually runs.  Not in
the reference (its closest construct is the standing-filter match path,
MatchBolt.java:189-202); this is the BASELINE.json north-star surface.

Physical shape at scale (4 shuffles total, each on a compact key):
  1. quality+language gate — pure per-row column math, fused into the scan
     (no shuffle, predicate evaluated inside whole-stage codegen);
  2. exact dedup — ONE hash aggregate keyed by md5(text) (fixed 32-byte
     key); the keeper row rides along as ``min(struct(doc_id, text))`` so
     no second join is needed;
  3. near-dup candidate generation — shingle inverted-index equi-join on
     xxhash64(shingle) (8-byte shuffle keys), Jaccard threshold in exact
     integer cross-multiplied arithmetic;
  4. survivor anti-join on doc_id — broadcast-able: the drop list is
     pairs-that-crossed-threshold, orders of magnitude smaller than the
     corpus.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudpelican_lsd_spark.checkpoint import materialize

from cloudpelican_lsd_spark.operators.dedup import (
    ngram_jaccard_pairs,
    shingles,
    shingles_oracle_cte,
)
from cloudpelican_lsd_spark.operators.textstats import (
    gopher_fr_cte,
    gopher_pass_sql,
    gopher_repetition,
    line_dedup,
    lined_view_cte,
    stop_count_expr,
    stop_count_sql,
)


def _clean_stages(
    docs: DataFrame,
    min_tokens: int,
    lang_num: int,
    lang_den: int,
    n: int,
    jac_num: int,
    jac_den: int,
    max_df: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared stage chain: `(gated, deduped, final)` — single source
    of truth for corpus_clean and its yield report, so the report card
    can never desynchronize from the pipeline it audits."""
    stop_cnt = stop_count_expr()
    n_tok = F.size(F.split(F.col("text"), " "))
    gated = docs.where(
        (n_tok >= min_tokens) & (stop_cnt * lang_den >= n_tok * lang_num)
    ).select("doc_id", "text")

    # exact dedup in ONE hash aggregate: min(struct) carries the keeper's
    # text through the shuffle, so no keeper-id semi-join is needed
    deduped = (
        gated.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min(F.struct("doc_id", "text")).alias("keeper"))
        .select(F.col("keeper.doc_id").alias("doc_id"), F.col("keeper.text").alias("text"))
        # r8 (guide §3.3): `deduped` fans out into the drops subtree AND
        # the anti-join left side (plus the yield report's count branch),
        # so every _clean_stages caller re-analyzed the gate+dedup tree
        # per consumer and leaned on runtime exchange reuse to avoid
        # recomputing it.  Materializing the compact deduped corpus once
        # is strictly fewer bytes than that reliance; interleaved A/B at
        # sf0.1: clean_yield 4.05 -> 3.46 s (4/4 pairwise), clean_v4
        # 9.50 -> 8.76 s, pipeline neutral — outputs bit-identical.
        # localCheckpoint locally; reliable checkpoint() on a cluster.
        .transform(materialize)
    )

    drops = (
        ngram_jaccard_pairs(
            deduped,
            n=n,
            threshold_num=jac_num,
            threshold_den=jac_den,
            max_df=max_df,
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # join strategy left to AQE: `drops` is the near-duplicate id set,
    # which is CORPUS-PROPORTIONAL (web-crawl near-dup rates run
    # 10-50%), so pinning F.broadcast here would OOM the driver at the
    # 100 TB shape; AQE still broadcasts it at harness scales
    final = deduped.join(drops, "doc_id", "left_anti")
    return gated, deduped, final


def corpus_clean(
    docs: DataFrame,
    min_tokens: int = 5,
    lang_num: int = 1,
    lang_den: int = 20,
    n: int = 3,
    jac_num: int = 4,
    jac_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """`(doc_id, n_tokens)` — documents surviving the full cleanup.

    ``max_df`` passes through to the Jaccard stage's document-frequency
    pruning (the 100 TB skew guard; see dedup.ngram_jaccard_pairs).

    Stages (_clean_stages): (1) keep docs with >= min_tokens whitespace
    tokens AND English stopword density >= lang_num/lang_den
    (integer-exact, same heuristic as textstats.lang_id); (2) exact dedup
    keeping the lowest doc_id per byte-identical text; (3) drop every doc
    that is the higher-id member of an n-gram Jaccard pair >=
    jac_num/jac_den among survivors.
    """
    _, _, final = _clean_stages(
        docs, min_tokens, lang_num, lang_den, n, jac_num, jac_den, max_df
    )
    return final.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )


def _clean_cte_chain(
    base_cte: str,
    base_table: str,
    min_tokens: int,
    lang_num: int,
    lang_den: int,
    n: int,
    jac_num: int,
    jac_den: int,
    max_df: int | None,
) -> str:
    """Shared DuckDB CTE chain (gated -> ded -> drops -> final) — single
    source of truth for the clean-pipeline oracle and its yield report."""
    sh_cte = shingles_oracle_cte(n, base_table="ded")
    df_filter = (
        f"""
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= {max_df}) ok ON ok.shingle = a.shingle"""
        if max_df is not None
        else ""
    )
    return f"""{base_cte},
gated AS (
  SELECT doc_id, text FROM {base_table}
  WHERE len(string_split(text, ' ')) >= {min_tokens}
    AND {stop_count_sql()} * {lang_den}
        >= len(string_split(text, ' ')) * {lang_num}
),
ded AS (
  SELECT min(doc_id)::BIGINT AS doc_id, arg_min(text, doc_id) AS text
  FROM gated GROUP BY md5(text)
),
{sh_cte},
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS inter_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id{df_filter}
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter_cnt * {jac_den} >= (sa.sz + sb.sz - inter_cnt) * {jac_num}
),
final AS (
  SELECT d.doc_id, d.text
  FROM ded d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
)"""


def corpus_clean_oracle(
    base_cte: str,
    base_table: str,
    min_tokens: int = 5,
    lang_num: int = 1,
    lang_den: int = 20,
    n: int = 3,
    jac_num: int = 4,
    jac_den: int = 5,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of :func:`corpus_clean` over ``base_table`` (provided by
    ``base_cte``, which must yield columns ``doc_id, text``)."""
    chain = _clean_cte_chain(
        base_cte, base_table, min_tokens, lang_num, lang_den, n,
        jac_num, jac_den, max_df,
    )
    return f"""WITH {chain}
SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
FROM final"""


# ---------------------------------------------------------------------------
# sequence packing (contiguous concat-and-cut)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame, capacity: int = 256, shards: int = 8
) -> DataFrame:
    """`(doc_id, shard, pack_id, start_offset, n_tokens)` — contiguous
    sequence packing: within each shard, documents are concatenated in
    doc_id order into one token stream and cut every `capacity` tokens
    (docs may straddle a cut — the standard pack-with-splitting
    semantics).  `pack_id` is the pack holding the doc's FIRST token;
    `start_offset` its position inside that pack.  Pack ids interleave
    the shard into the low bits (`within_shard_pack * shards + shard`),
    globally unique for ANY number of packs per shard — a fixed
    per-shard offset would alias across shards once one shard outgrew
    it.

    This is the training-batch assembly primitive: token streams become
    fixed-length context windows with zero padding waste.  A global
    cumulative sum would serialize on one partition; sharding by
    `doc_id % shards` makes each cumsum an independent partition-local
    window (shards ≈ cluster parallelism at 100 TB), at the cost of one
    partial pack per shard — a fraction `shards·capacity / total_tokens`
    of waste, negligible when shards ≪ corpus tokens.  All integer math:
    hash-stable across engines and re-runs.
    """
    from pyspark.sql.window import Window

    t = docs.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "shard",
        (
            F.floor(start / capacity) * shards + F.col("shard")
        ).cast("long").alias("pack_id"),
        (start % capacity).cast("long").alias("start_offset"),
        "n_tokens",
    )


def pack_sequences_oracle(capacity: int = 256, shards: int = 8) -> str:
    return f"""WITH t AS (
  SELECT doc_id, doc_id % {shards} AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, shard,
       CAST(((cum - n_tokens) // {capacity}) * {shards} + shard AS BIGINT)
         AS pack_id,
       CAST((cum - n_tokens) % {capacity} AS BIGINT) AS start_offset,
       n_tokens::BIGINT AS n_tokens
FROM c"""


def export_training_shards(
    docs: DataFrame,
    path: str,
    capacity: int = 256,
    shards: int = 8,
) -> DataFrame:
    """Write the packed corpus as training-ready parquet shards and
    return the manifest `(shard, n_docs, n_packs, n_tokens)`.

    Physical layout is the part that matters at 100 TB:

    - ``partitionBy(shard)`` — one directory per shard, so a trainer
      maps shards to data-loader workers with no file listing games;
    - ``repartition(shard)`` BEFORE the write — exactly one task (and
      therefore one file) per shard directory, instead of every task
      dribbling a fragment into every partition (the classic
      small-files explosion: tasks × partitions files);
    - ``sortWithinPartitions(pack_id, start_offset)`` — rows land in
      pack order, so a reader streams each file sequentially and packs
      come out contiguous without a shuffle on the training side.

    The doc→pack assignment is :func:`pack_sequences` (same integer
    math, same ids); the rows carry the text so the shard files are
    self-contained.
    """
    packed = pack_sequences(docs, capacity=capacity, shards=shards)
    rows = packed.join(docs.select("doc_id", "text"), "doc_id")
    (
        rows.repartition("shard")
        # shard leads the sort: the parquet writer REQUIRES ordering by
        # the partition column and would otherwise inject its own
        # SortExec on top (a redundant second sort whose stability for
        # equal shard keys is an implementation detail, not a contract)
        .sortWithinPartitions("shard", "pack_id", "start_offset")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )
    out = docs.sparkSession.read.parquet(path)
    return (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("pack_id").cast("long").alias("n_packs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def corpus_clean_yield(
    docs: DataFrame,
    min_tokens: int = 5,
    lang_num: int = 1,
    lang_den: int = 20,
    n: int = 3,
    jac_num: int = 4,
    jac_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """One-row pipeline report card: `(n_raw, n_gated, n_exact_kept,
    n_final, tokens_final)` — document counts surviving each cleanup
    stage plus the final token yield.  The observability twin of
    :func:`corpus_clean`: a 100 TB run needs per-stage yields (how much
    did the language gate cost? how aggressive was near-dup removal?)
    before anyone trusts the output.

    Stage definitions come from the SAME `_clean_stages` call corpus_clean
    uses, so the report can never desynchronize from the pipeline.  The
    count branches keep a column reference to `text` (length >= 0 —
    always true) so column pruning cannot specialize their copies of the
    gate/dedup subtrees away from the full-width final branch: the
    subtrees stay canonically equal and AQE reuses the materialized
    stages instead of recomputing them (same fragility-and-fix as
    textstats.tfidf_topk's df branch)."""
    gated, deduped, final = _clean_stages(
        docs, min_tokens, lang_num, lang_den, n, jac_num, jac_den, max_df
    )

    def count_keeping_width(df, alias):
        return df.where(F.length("text") >= 0).agg(
            F.count(F.lit(1)).alias(alias)
        )

    return (
        docs.agg(F.count(F.lit(1)).alias("n_raw"))
        .crossJoin(count_keeping_width(gated, "n_gated"))
        .crossJoin(count_keeping_width(deduped, "n_exact_kept"))
        .crossJoin(
            final.agg(
                F.count(F.lit(1)).alias("n_final"),
                F.sum(F.size(F.split(F.col("text"), " ")))
                .cast("long")
                .alias("tokens_final"),
            )
        )
    )


def corpus_clean_yield_oracle(
    base_cte: str,
    base_table: str,
    min_tokens: int = 5,
    lang_num: int = 1,
    lang_den: int = 20,
    n: int = 3,
    jac_num: int = 4,
    jac_den: int = 5,
    max_df: int | None = None,
) -> str:
    """DuckDB twin: the same shared CTE chain, collapsed into the
    stage-count report."""
    chain = _clean_cte_chain(
        base_cte, base_table, min_tokens, lang_num, lang_den, n,
        jac_num, jac_den, max_df,
    )
    return f"""WITH {chain}
SELECT (SELECT COUNT(*) FROM {base_table})::BIGINT AS n_raw,
       (SELECT COUNT(*) FROM gated)::BIGINT AS n_gated,
       (SELECT COUNT(*) FROM ded)::BIGINT AS n_exact_kept,
       (SELECT COUNT(*) FROM final)::BIGINT AS n_final,
       (SELECT SUM(len(string_split(text, ' ')))
        FROM final)::BIGINT AS tokens_final"""


# ---------------------------------------------------------------------------
# Clean pipelines v2 / v3 / v4 — ONE skeleton, versions are gate lists:
# boilerplate line dedup -> gates -> the v1 chain -> eval decontamination
# ---------------------------------------------------------------------------


def _decontaminate(
    pop: DataFrame, final: DataFrame, eval_mod: int, gram_n: int
) -> DataFrame:
    """Shared eval-decontamination tail of :func:`_clean_lined` (ONE
    copy, so the contamination rule cannot fork): docs with
    ``doc_id % eval_mod == 0`` play the held-out benchmark; any
    surviving training doc sharing a word ``gram_n``-gram with the eval
    slice is dropped, and eval docs never enter the training output.
    ``pop`` is the population the eval slice is drawn from (the
    pipeline's gated post-line-dedup corpus)."""
    ev = pop.where(F.col("doc_id") % eval_mod == 0)
    evg = (
        shingles(ev, gram_n)
        .select(F.md5(F.col("shingle")).alias("gh"))
        .distinct()
    )
    train = final.where(F.col("doc_id") % eval_mod != 0)
    trg = shingles(train, gram_n).select(
        "doc_id", F.md5(F.col("shingle")).alias("gh")
    )
    bad = trg.join(evg, "gh", "left_semi").select("doc_id").distinct()
    return (
        train.join(bad, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
    )


def _decontaminate_sql(pop_table: str, eval_mod: int, gram_n: int) -> str:
    """Shared DuckDB decontamination tail over ``pop_table`` + `final`."""
    ev_grams = shingles_oracle_cte(gram_n, "ev_src", prefix="ev")
    tr_grams = shingles_oracle_cte(gram_n, "tr_src", prefix="tr")
    return f"""ev_src AS (SELECT doc_id, text FROM {pop_table} WHERE doc_id % {eval_mod} = 0),
{ev_grams},
evg AS (SELECT DISTINCT md5(shingle) AS gh FROM evsh),
tr_src AS (SELECT doc_id, text FROM final WHERE doc_id % {eval_mod} <> 0),
{tr_grams},
bad AS (SELECT DISTINCT t.doc_id FROM trsh t JOIN evg ON evg.gh = md5(t.shingle))
SELECT f.doc_id, len(string_split(f.text, ' '))::BIGINT AS n_tokens
FROM final f
WHERE f.doc_id % {eval_mod} <> 0
  AND f.doc_id NOT IN (SELECT doc_id FROM bad)"""


#: the C4 rules the "c4" gate drops on — exactly the two quality axes
#: the v1 chain lacks (it already has a token floor and stopword-density
#: language gate): type-token ratio (repetition) and mean token length
V3_GATE_RULES = ("low_type_token_ratio", "short_mean_token_len")


def _clean_lined(
    gates: tuple[str, ...],
    docs_lined: DataFrame,
    line_min_df: int = 3,
    eval_mod: int = 97,
    gram_n: int = 8,
    min_tokens: int = 5,
    lang_num: int = 1,
    lang_den: int = 20,
    n: int = 3,
    jac_num: int = 4,
    jac_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """`(doc_id, n_tokens)` — the clean pipeline over LINE-STRUCTURED
    docs; ``gates`` names the document gates between the line dedup and
    the v1 chain:

    (0)   corpus-wide boilerplate line removal (textstats.line_dedup;
          survivors rejoin with spaces after the Gopher gate, so
          downstream tokenization never sees the line separator);
    (0.4) "gopher": drop docs failing any Rae et al. 2021 Table A1
          repetition threshold (textstats.gopher_repetition over the
          line-deduped text WITH its line structure — the panel's
          dup-line signals need the lines the rejoin flattens;
          `text_gopher_repetition` is this gate's dry-run);
    (0.5) "c4": drop docs failing ``V3_GATE_RULES`` — the repetition
          (type-token ratio) and mean-token-length axes the v1 chain's
          own gates don't cover; predicates come from
          :func:`c4_flag_exprs`, the same single source the audit panel
          reports on, so the panel IS the dry-run of this gate;
    (1-3) the v1 chain: quality gate → lang-ID gate → exact dedup →
          near-dup removal (_clean_stages — single source of truth);
    (4)   EVAL DECONTAMINATION (_decontaminate).

    Scale shape: stage 0 is the window-count line plan (1 scan /
    2 shuffles); the C4 gate is per-row column math fused into stage
    0's output projection (zero added shuffles); the Gopher panel is
    aggregation-valued (per-doc n-gram statistics), so its gate is a
    doc_id-keyed SEMI join of pass ids and the panel's token shuffle is
    the only added exchange; stage 4 joins the training grams against
    the eval-gram set on md5 keys — eval is a tiny slice, so AQE
    broadcasts it.
    """
    docs = line_dedup(docs_lined, min_df=line_min_df).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    if "gopher" in gates:
        # co_partition=False: docs ends in line_dedup's EXPLICIT-count
        # doc_id exchange (r8; an implicit one AQE-coalesced to a single
        # partition and serialized the panel onto one core), which the
        # panel's aggregations reuse — its default upfront repartition
        # would be a redundant second corpus exchange
        pass_ids = (
            gopher_repetition(docs, co_partition=False)
            .where(F.col("pass_gopher") == 1)
            .select("doc_id")
        )
        docs = docs.join(pass_ids, "doc_id", "left_semi")
    docs = docs.select(
        "doc_id", F.regexp_replace(F.col("text"), "\n", " ").alias("text")
    )
    if "c4" in gates:
        flags = c4_flag_exprs()
        keep = ~flags[V3_GATE_RULES[0]]
        for r in V3_GATE_RULES[1:]:
            keep &= ~flags[r]
        docs = docs.where(keep)
    # r8: truncate lineage at the widest fan-out point — the gated corpus
    # feeds _clean_stages AND (twice) _decontaminate, and without the cut
    # every consumer re-analyzes the line-dedup (+ gate) tree (v4's static
    # plan: 150 exchanges / 120 scans, ~7 s of driver analysis at sf0.1).
    # Session-median A/B at sf0.1, outputs bit-identical: v2 6.0 -> 4.6 s,
    # v3 4.4 -> 3.3 s, v4 18.1 -> 9.2 s.  Durable (reliable checkpoint)
    # whenever a checkpoint dir is configured — see checkpoint.materialize.
    docs = docs.transform(materialize)
    _, _, final = _clean_stages(
        docs, min_tokens, lang_num, lang_den, n, jac_num, jac_den, max_df
    )
    return _decontaminate(docs, final, eval_mod, gram_n)


def _clean_lined_oracle(
    gates: tuple[str, ...],
    base_cte: str,
    base_table: str,
    words_per_line: int = 10,
    line_min_df: int = 3,
    eval_mod: int = 97,
    gram_n: int = 8,
    min_tokens: int = 5,
    lang_num: int = 1,
    lang_den: int = 20,
    n: int = 3,
    jac_num: int = 4,
    jac_den: int = 5,
    max_df: int | None = None,
) -> str:
    """DuckDB twin of :func:`_clean_lined`: the shared lined-view CTE
    feeds `docs2` (surviving lines rejoined with spaces); the gates
    filter it into `docsg` ("gopher": a chr(10)-joined twin `docs2l`
    feeds textstats.gopher_fr_cte, whose pass ids semi-filter docs2;
    "c4": the shared-SQL rule predicates); then the shared v1 chain and
    the gram-overlap drop — every n-gram and line-chunking arithmetic
    composes the single-source builders (textstats.lined_view_cte,
    dedup.shingles_oracle_cte)."""

    def joined(name: str, sep: str) -> str:
        return f"""{name} AS (
  SELECT e.doc_id,
         string_agg(e.line, {sep} ORDER BY e.pos)
           FILTER (WHERE f.df < {line_min_df}) AS text
  FROM ld_ex e JOIN ld_f f USING (line)
  GROUP BY e.doc_id
  HAVING COUNT(*) FILTER (WHERE f.df < {line_min_df}) >= 1
)"""

    ctes = [
        base_cte,
        lined_view_cte(base_table, words_per_line, prefix="ld_"),
        "ld_f AS (SELECT line, COUNT(*)::BIGINT AS df FROM ld_ex GROUP BY line)",
        joined("docs2", "' '"),
    ]
    keep = []
    if "gopher" in gates:
        ctes += [
            joined("docs2l", "chr(10)"),
            gopher_fr_cte("docs2l", "gp"),
            f"gp_pass AS (SELECT doc_id FROM gpfr WHERE {gopher_pass_sql()})",
        ]
        keep.append("doc_id IN (SELECT doc_id FROM gp_pass)")
    if "c4" in gates:
        fsql = c4_flag_sql()
        keep += [f"NOT {fsql[r]}" for r in V3_GATE_RULES]
    ctes.append(
        "docsg AS (SELECT doc_id, text FROM docs2 WHERE "
        f"{' AND '.join(keep) or 'TRUE'})"
    )
    chain = _clean_cte_chain(
        ",\n".join(ctes), "docsg", min_tokens, lang_num, lang_den, n,
        jac_num, jac_den, max_df,
    )
    return f"""WITH {chain},
{_decontaminate_sql("docsg", eval_mod, gram_n)}"""


# the public pipelines, with the skeleton's signature and defaults: v2 =
# no gate, v3 = the C4 rule gate, v4 = the Gopher panel ahead of the C4 gate
corpus_clean_v2 = partial(_clean_lined, ())
corpus_clean_v2_oracle = partial(_clean_lined_oracle, ())
corpus_clean_v3 = partial(_clean_lined, ("c4",))
corpus_clean_v3_oracle = partial(_clean_lined_oracle, ("c4",))
corpus_clean_v4 = partial(_clean_lined, ("gopher", "c4"))
corpus_clean_v4_oracle = partial(_clean_lined_oracle, ("gopher", "c4"))


# ---------------------------------------------------------------------------
# C4/Gopher-style rule-panel audit
# ---------------------------------------------------------------------------

#: (rule name, fail share on the synthetic corpus is mixed unless noted)
C4_RULES = (
    "too_few_tokens",        # n_tokens < 25
    "low_stopword_density",  # stopwords/tokens < 1/20
    "low_type_token_ratio",  # distinct/tokens < 2/5 (Gopher-style TTR)
    "short_mean_token_len",  # mean token length < 4.5
    "no_terminal_punct",     # doc does not end in . ! ?  (C4 line rule)
    "long_word",             # any token longer than 15 chars (C4: 1000)
)


def c4_flag_exprs() -> dict:
    """rule -> boolean Column over a `text` column — the single source of
    the C4/Gopher predicates, shared by the audit panel and the v3
    pipeline's gate stage (one definition, one SQL twin below)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    return {
        "too_few_tokens": n < 25,
        "low_stopword_density": stop_count_expr() * 20 < n,
        "low_type_token_ratio": F.size(F.array_distinct(toks)) * 5 < n * 2,
        "short_mean_token_len": (F.length("text") - n + 1) * 2 < n * 9,
        "no_terminal_punct": ~F.substring(F.col("text"), -1, 1).isin(
            ".", "!", "?"
        ),
        "long_word": F.array_max(F.transform(toks, lambda w: F.length(w)))
        > 15,
    }


def c4_flag_sql(n_expr: str = "len(string_split(text, ' '))") -> dict:
    """DuckDB twins of :func:`c4_flag_exprs` (``n_expr`` = token count)."""
    return {
        "too_few_tokens": f"({n_expr} < 25)",
        "low_stopword_density": f"({stop_count_sql()} * 20 < {n_expr})",
        "low_type_token_ratio":
            f"(len(list_distinct(string_split(text, ' '))) * 5 < {n_expr} * 2)",
        "short_mean_token_len":
            f"((length(text) - {n_expr} + 1) * 2 < {n_expr} * 9)",
        "no_terminal_punct": "(right(text, 1) NOT IN ('.', '!', '?'))",
        "long_word":
            "(list_max(list_transform(string_split(text, ' '),"
            " w -> length(w))) > 15)",
    }


def c4_audit(docs: DataFrame) -> DataFrame:
    """Per-rule audit of the public C4 (Raffel et al. 2020) / Gopher
    (Rae et al. 2021) document-quality heuristics: for each rule,
    `(rule, n_docs, n_fail, fail_pct)`, plus an `any_rule` summary row —
    the report a data curator reads BEFORE committing to a filter config
    (the filtering itself is corpus_clean's gate stage).

    Every decision is integer-exact (cross-multiplied thresholds, no
    float compares); `fail_pct` is the only float and is a single
    round(exact/exact, 6).

    100 TB shape: ONE scan computing all rule flags in fused per-row
    column math (whole-stage codegen, no UDFs), a 7-row stack unpivot,
    and ONE tiny aggregation keyed by rule name — no joins, and the
    map-side partial agg reduces each partition to <= 7 rows before the
    shuffle.
    """
    flags = docs.select(
        *[
            expr.cast("int").alias(rule)
            for rule, expr in c4_flag_exprs().items()
        ]
    ).withColumn("any_rule", F.greatest(*[F.col(r) for r in C4_RULES]))
    names = list(C4_RULES) + ["any_rule"]
    stack = ", ".join(f"'{r}', {r}" for r in names)
    unp = flags.select(
        F.expr(f"stack({len(names)}, {stack}) as (rule, fail)")
    )
    return unp.groupBy("rule").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fail").cast("long").alias("n_fail"),
        F.round(F.sum("fail") / F.count(F.lit(1)), 6).alias("fail_pct"),
    )


def c4_audit_oracle() -> str:
    """DuckDB twin of :func:`c4_audit` (same integer-exact decisions)."""
    flag_sql = c4_flag_sql("n")
    cols = ",\n         ".join(
        f"{expr}::INT AS {r}" for r, expr in flag_sql.items()
    )
    any_rule = "GREATEST(" + ", ".join(C4_RULES) + ")"
    arms = "\nUNION ALL\n".join(
        f"SELECT '{r}' AS rule, COUNT(*)::BIGINT AS n_docs,"
        f" CAST(SUM({r}) AS BIGINT) AS n_fail,"
        f" ROUND(SUM({r})::DOUBLE / COUNT(*), 6) AS fail_pct FROM flags"
        for r in list(C4_RULES) + ["any_rule"]
    )
    return f"""WITH base AS (
  SELECT text, len(string_split(text, ' ')) AS n FROM documents
),
flags AS MATERIALIZED (
  SELECT {cols},
         {any_rule}::INT AS any_rule
  FROM base
)
{arms}"""


def c4_sensitivity(docs: DataFrame) -> DataFrame:
    """`(rule, n_docs, n_fail, n_sole_fail, fail_ppm)` — which C4 rule
    BITES: per rule, total failures and SOLE failures (docs the panel
    would keep if only this rule were dropped) — the same marginal
    diagnostic `text_gopher_sensitivity` gives the repetition panel,
    over the C4/Gopher document-quality rules.  A rule with high n_fail
    but zero n_sole_fail is redundant with the rest of the panel; the
    rule carrying most sole-fails is the one to sample-check before
    shipping a filter config.

    Unlike the Gopher twin (whose n-gram panel is expensive enough to
    justify a one-row driver collect), the C4 flags are cheap per-row
    column math, so this stays a pure DataFrame plan: one scan computes
    every flag + the per-doc fail count, a |rules|-way stack unpivot
    emits (rule, fail, sole) triples, and ONE tiny aggregation keyed by
    rule reduces map-side to <= |rules| rows per partition.  Exact
    BIGINT counts + integer ppm."""
    exprs = c4_flag_exprs()
    names = list(C4_RULES)
    fails = docs.select(
        *[exprs[r].cast("int").alias(f"f_{i}") for i, r in enumerate(names)]
    ).withColumn("n_fails", sum(F.col(f"f_{i}") for i in range(len(names))))
    arms = ", ".join(
        f"'{r}', f_{i}, IF(f_{i} = 1 AND n_fails = 1, 1, 0)"
        for i, r in enumerate(names)
    )
    unp = fails.select(
        F.expr(f"stack({len(names)}, {arms}) as (rule, fail, sole)")
    )
    return (
        unp.groupBy("rule")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("fail").cast("long").alias("n_fail"),
            F.sum("sole").cast("long").alias("n_sole_fail"),
        )
        .withColumn("fail_ppm", F.expr("n_fail * 1000000 DIV n_docs"))
    )


def c4_sensitivity_oracle() -> str:
    """DuckDB twin of :func:`c4_sensitivity` (same flag SQL as the audit
    panel; UNION-ALL arms over one flags relation)."""
    flag_sql = c4_flag_sql("n")
    cols = ",\n         ".join(
        f"{expr}::INT AS f_{i}" for i, (r, expr) in enumerate(flag_sql.items())
    )
    nf = " + ".join(f"f_{i}" for i in range(len(C4_RULES)))
    arms = "\nUNION ALL\n".join(
        f"SELECT '{r}' AS rule, COUNT(*)::BIGINT AS n_docs,"
        f" SUM(f_{i})::BIGINT AS n_fail,"
        f" SUM(CASE WHEN f_{i} = 1 AND n_fails = 1 THEN 1 ELSE 0 END)::BIGINT"
        f" AS n_sole_fail,"
        f" ((SUM(f_{i}) * 1000000) // COUNT(*))::BIGINT AS fail_ppm"
        f" FROM fails2"
        for i, r in enumerate(C4_RULES)
    )
    return f"""WITH base AS (
  SELECT text, len(string_split(text, ' ')) AS n FROM documents
),
fails AS (
  SELECT {cols}
  FROM base
),
fails2 AS MATERIALIZED (SELECT *, ({nf}) AS n_fails FROM fails)
{arms}"""


def c4_audit_by_source(docs: DataFrame) -> DataFrame:
    """`(rule, source, n_docs, n_fail, fail_pct)` — :func:`c4_audit`
    sliced per source: WHICH source fails WHICH quality rule, the
    drill-down a curator needs before weighting or dropping a feed
    (a corpus-wide 20% long-word rate means something different when
    one source contributes all of it).  Same single-scan stack-unpivot
    shape with `source` carried through; the aggregate is
    |rules|×|sources| rows, map-side combinable.  Predicates are the
    same shared `c4_flag_exprs` the panel and the v3 gate use."""
    flags = docs.select(
        "source",
        *[
            expr.cast("int").alias(rule)
            for rule, expr in c4_flag_exprs().items()
        ],
    ).withColumn("any_rule", F.greatest(*[F.col(r) for r in C4_RULES]))
    names = list(C4_RULES) + ["any_rule"]
    stack = ", ".join(f"'{r}', {r}" for r in names)
    unp = flags.select(
        "source", F.expr(f"stack({len(names)}, {stack}) as (rule, fail)")
    )
    return unp.groupBy("rule", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fail").cast("long").alias("n_fail"),
        F.round(F.sum("fail") / F.count(F.lit(1)), 6).alias("fail_pct"),
    )


def c4_audit_by_source_oracle() -> str:
    flag_sql = c4_flag_sql("n")
    cols = ",\n         ".join(
        f"{expr}::INT AS {r}" for r, expr in flag_sql.items()
    )
    any_rule = "GREATEST(" + ", ".join(C4_RULES) + ")"
    arms = "\nUNION ALL\n".join(
        f"SELECT '{r}' AS rule, source, COUNT(*)::BIGINT AS n_docs,"
        f" CAST(SUM({r}) AS BIGINT) AS n_fail,"
        f" ROUND(SUM({r})::DOUBLE / COUNT(*), 6) AS fail_pct"
        f" FROM flags GROUP BY source"
        for r in list(C4_RULES) + ["any_rule"]
    )
    return f"""WITH base AS (
  SELECT source, text, len(string_split(text, ' ')) AS n FROM documents
),
flags AS MATERIALIZED (
  SELECT source, {cols},
         {any_rule}::INT AS any_rule
  FROM base
)
{arms}"""


# ---------------------------------------------------------------------------
# Snapshot diff (dataset versioning)
# ---------------------------------------------------------------------------


def snapshot_diff(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """`(source, status, n_docs, token_delta)` — what changed between two
    corpus snapshots, per source: docs `added` / `removed` / `changed`
    (same id, different content hash) / `unchanged`, with the exact
    net token delta each cell contributes.

    The dataset-versioning audit run before retraining on a refreshed
    corpus: an unexpected `removed` spike in one source means an
    upstream feed broke; a `changed` spike means silent re-crawls are
    mutating history.

    100 TB shape: each side is projected to `(doc_id, source,
    md5(text), n_tokens)` BEFORE the full-outer join — fixed-width rows
    only, one doc_id-keyed shuffle per side (text never shuffles); the
    output is |sources|×4 rows.  Token delta is BIGINT-exact
    (dimension-bounded sum of per-doc counts).
    """

    def _prep(df: DataFrame, suffix: str) -> DataFrame:
        return df.select(
            "doc_id",
            F.lit(True).alias(f"in_{suffix}"),
            F.col("source").alias(f"source_{suffix}"),
            F.md5(F.col("text")).alias(f"h_{suffix}"),
            F.size(F.split(F.col("text"), " "))
            .cast("long")
            .alias(f"tok_{suffix}"),
        )

    j = _prep(v1, "a").join(_prep(v2, "b"), "doc_id", "full_outer")
    # presence via explicit per-side flags, not hash nullity — a doc
    # with NULL text must still count as present on its side; content
    # comparison is null-safe so NULL-vs-value reads as 'changed'
    status = (
        F.when(F.col("in_a").isNull(), "added")
        .when(F.col("in_b").isNull(), "removed")
        .when(~F.col("h_a").eqNullSafe(F.col("h_b")), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce("source_b", "source_a").alias("source"),
            status.alias("status"),
            (
                F.coalesce("tok_b", F.lit(0)) - F.coalesce("tok_a", F.lit(0))
            ).alias("tok_delta"),
        )
        .groupBy("source", "status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_delta").alias("token_delta"),
        )
    )


def snapshot_diff_oracle(v1_table: str, v2_table: str) -> str:
    """DuckDB twin over two CTE/table names with documents schema."""
    return f"""\
pa AS (
  SELECT doc_id, TRUE AS in_a, source AS source_a, md5(text) AS h_a,
         len(string_split(text, ' '))::BIGINT AS tok_a
  FROM {v1_table}
),
pb AS (
  SELECT doc_id, TRUE AS in_b, source AS source_b, md5(text) AS h_b,
         len(string_split(text, ' '))::BIGINT AS tok_b
  FROM {v2_table}
),
j AS (
  SELECT COALESCE(pb.source_b, pa.source_a) AS source,
         CASE WHEN pa.in_a IS NULL THEN 'added'
              WHEN pb.in_b IS NULL THEN 'removed'
              WHEN pa.h_a IS DISTINCT FROM pb.h_b THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(pb.tok_b, 0) - COALESCE(pa.tok_a, 0) AS tok_delta
  FROM pa FULL OUTER JOIN pb ON pb.doc_id = pa.doc_id
)
SELECT source, status, COUNT(*)::BIGINT AS n_docs,
       SUM(tok_delta)::BIGINT AS token_delta
FROM j GROUP BY source, status"""


# ---------------------------------------------------------------------------
# UniMax water-filling — token-budget allocation across sources
# ---------------------------------------------------------------------------


def unimax_allocation(docs: DataFrame, budget_num: int = 2, budget_den: int = 5) -> DataFrame:
    """`(source, n_tokens, alloc)` — UniMax-style water-filling (Chung et
    al. 2023, "UniMax: Fairer and More Effective Language Sampling"):
    spend a token budget ``B = total * budget_num // budget_den`` as
    uniformly as possible across sources, never over-sampling any source
    past its available tokens.

    Exact integer formulation: sort sources by availability ascending
    (ties by name); with prefix sums ``P_i``, the number of fully-taken
    sources is ``k = max { i : P_i + (S-i) * n_i <= B }`` (sources whose
    entire supply fits under the uniform water level).  The remaining
    ``S-k`` sources split ``B - P_k`` evenly: ``t = div``, and the first
    ``B - P_k mod (S-k)`` of them (in the same sort order) get one extra
    token — fully deterministic, allocations sum exactly to
    ``min(B, total)``.

    Scale: the only corpus-sized work is the per-source token agg
    (map-side-collapsed to |sources| rows per mapper); the water-filling
    itself is window math over |sources| rows.  Works unchanged with
    thousands of domains/languages as the grouping key.
    """
    from pyspark.sql.window import Window

    per_src = (
        docs.select(
            "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    w = Window.orderBy(F.col("n_tokens").asc(), F.col("source").asc())
    ranked = per_src.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("i"),
        F.sum("n_tokens").over(w).alias("p"),
    )
    totals = ranked.agg(
        F.count(F.lit(1)).alias("s_cnt"), F.sum("n_tokens").alias("total")
    ).select(
        "s_cnt",
        "total",
        F.expr(f"(total * {int(budget_num)}) div {int(budget_den)}").alias("b"),
    )
    with_tot = ranked.crossJoin(F.broadcast(totals))
    k_row = with_tot.where(
        F.col("p") + (F.col("s_cnt") - F.col("i")) * F.col("n_tokens")
        <= F.col("b")
    ).agg(F.max("i").alias("k"), F.max("p").alias("p_k"))
    return (
        with_tot.crossJoin(F.broadcast(k_row))
        .select(
            "source",
            "n_tokens",
            "i",
            F.coalesce(F.col("k"), F.lit(0)).alias("k"),
            F.coalesce(F.col("p_k"), F.lit(0)).alias("p_k"),
            "s_cnt",
            "b",
        )
        .select(
            "source",
            "n_tokens",
            F.when(F.col("i") <= F.col("k"), F.col("n_tokens"))
            .otherwise(
                F.expr("(b - p_k) div (s_cnt - k)")
                + F.when(
                    F.col("i") - F.col("k")
                    <= (F.col("b") - F.col("p_k")) % (F.col("s_cnt") - F.col("k")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("alloc"),
        )
    )


def unimax_allocation_oracle(budget_num: int = 2, budget_den: int = 5) -> str:
    return f"""WITH u_src AS (
  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
u_rank AS (
  SELECT source, n_tokens,
         row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS i,
         SUM(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS p
  FROM u_src
),
u_tot AS (
  SELECT COUNT(*)::BIGINT AS s_cnt, SUM(n_tokens)::BIGINT AS total,
         (SUM(n_tokens) * {budget_num} // {budget_den})::BIGINT AS b
  FROM u_rank
),
u_k AS (
  SELECT COALESCE(MAX(i), 0)::BIGINT AS k, COALESCE(MAX(p), 0)::BIGINT AS p_k
  FROM u_rank, u_tot
  WHERE p + (s_cnt - i) * n_tokens <= b
)
SELECT r.source, r.n_tokens,
  CASE WHEN r.i <= k.k THEN r.n_tokens
       ELSE (t.b - k.p_k) // (t.s_cnt - k.k)
            + CASE WHEN r.i - k.k <= (t.b - k.p_k) % (t.s_cnt - k.k)
                   THEN 1 ELSE 0 END
  END::BIGINT AS alloc
FROM u_rank r, u_tot t, u_k k"""


# ---------------------------------------------------------------------------
# training manifest + dataset integrity audit
# ---------------------------------------------------------------------------


def training_manifest(docs: DataFrame, emb: DataFrame, shards: int = 16) -> DataFrame:
    """`(doc_id, source, lang, n_tokens, modality, has_embedding, keep,
    shard)` — the per-example manifest a training job consumes: quality
    decision (C4 panel, shared predicates), embedding availability
    (equi-join on id), media modality (typed metadata column — the blob
    is never touched), and a deterministic shard assignment
    (md5-prefix mod, the corpus_split_assign scheme).

    A manifest RECORDS decisions rather than applying them (keep is a
    flag, rows are never dropped) — that is what makes dataset releases
    auditable and diffable (corpus_snapshot_diff consumes exactly this
    shape).

    100 TB shape: one scan of docs computes quality flags + tokens +
    shard in fused column math; the embeddings join is an id-equi join —
    co-locate by bucketing both tables on the id (sources/bucketed.py)
    and it runs shuffle-free; modality is a metadata column (here
    derived from the id like the media generator does; production reads
    it straight off the media parquet's typed columns with the blob
    pruned).
    """
    any_fail = F.greatest(
        *[expr.cast("int") for expr in c4_flag_exprs().values()]
    )
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        (any_fail == 0).alias("keep"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id"))), 1, 4), 16, 10)
            .cast("long") % shards
        ).alias("shard"),
    )
    has_emb = emb.select(F.col("vec_id").alias("doc_id")).distinct().withColumn(
        "has_embedding", F.lit(True)
    )
    return base.join(has_emb, "doc_id", "left").select(
        "doc_id",
        "source",
        "lang",
        "n_tokens",
        "modality",
        F.coalesce(F.col("has_embedding"), F.lit(False)).alias("has_embedding"),
        "keep",
        F.col("shard").cast("long").alias("shard"),
    )


def training_manifest_oracle(shards: int = 16) -> str:
    flag_sql = c4_flag_sql("len(string_split(text, ' '))")
    any_fail = "GREATEST(" + ", ".join(f"{e}::INT" for e in flag_sql.values()) + ")"
    return f"""WITH tm_emb AS (
  SELECT DISTINCT vec_id AS doc_id FROM embeddings
)
SELECT d.doc_id, d.source, d.lang,
       len(string_split(d.text, ' '))::BIGINT AS n_tokens,
       (['image','audio','video'])[(d.doc_id % 3) + 1] AS modality,
       (e.doc_id IS NOT NULL) AS has_embedding,
       ({any_fail} = 0) AS keep,
       (('0x' || substr(md5('shard:' || d.doc_id), 1, 4))::BIGINT % {shards})
         ::BIGINT AS shard
FROM documents d LEFT JOIN tm_emb e ON e.doc_id = d.doc_id"""


#: integrity checks: name -> description lives in the docstring; each is a
#: COUNT of violating rows, 0 = healthy.
def integrity_audit(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """`(check, n_bad)` — dataset-release integrity checks, every row a
    violation COUNT (all zeros = shippable):

    - ``docs_missing_embedding`` / ``embeddings_orphaned``: the two
      anti-join directions between the doc and embedding tables;
    - ``dup_doc_ids`` / ``dup_vec_ids``: primary-key duplication;
    - ``empty_text``: null or empty documents;
    - ``n_chars_mismatch``: the stored ``n_chars`` column disagreeing
      with ``length(text)`` — a stale-derived-column detector;
    - ``unknown_lang``: lang codes outside the release vocabulary.

    The dbt-style test suite fused for scale: ONE full-outer join of the
    two pre-aggregated id-count tables answers all four id checks
    (missing/orphaned by null side, duplication by count > 1), and ONE
    scalar aggregate over the doc scan answers the three row checks —
    3 table scans and 1 join total, where the naive per-check union
    costs 7 scans and 2 anti-joins.  (Round 5: fused from the unioned
    form; output rows identical, same oracle.)
    """
    langs = ["en", "es", "fr", "de", "zh"]
    d_agg = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("d_cnt"))
    e_agg = (
        emb.select(F.col("vec_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("e_cnt"))
    )
    # missing = doc rows (WITH multiplicity) whose id has no embedding;
    # orphaned symmetric; dup = ids appearing more than once.  SUM skips
    # the null counts from the unmatched side; coalesce guards empty input
    id_checks = (
        d_agg.join(e_agg, "doc_id", "full_outer")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("e_cnt").isNull(), F.col("d_cnt"))),
                F.lit(0),
            ).alias("docs_missing_embedding"),
            F.coalesce(
                F.sum(F.when(F.col("d_cnt").isNull(), F.col("e_cnt"))),
                F.lit(0),
            ).alias("embeddings_orphaned"),
            F.coalesce(
                F.sum((F.col("d_cnt") > 1).cast("long")), F.lit(0)
            ).alias("dup_doc_ids"),
            F.coalesce(
                F.sum((F.col("e_cnt") > 1).cast("long")), F.lit(0)
            ).alias("dup_vec_ids"),
        )
    )
    row_checks = docs.agg(
        F.coalesce(
            F.sum(
                (F.col("text").isNull() | (F.length("text") == 0)).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("empty_text"),
        F.coalesce(
            F.sum(
                (
                    F.coalesce(F.col("n_chars"), F.lit(-1))
                    != F.coalesce(F.length("text"), F.lit(-2))
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_chars_mismatch"),
        F.coalesce(
            F.sum((~F.col("lang").isin(langs)).cast("long")), F.lit(0)
        ).alias("unknown_lang"),
    )
    wide = id_checks.crossJoin(row_checks)  # 1-row x 1-row
    return wide.selectExpr(
        """stack(7,
           'docs_missing_embedding', cast(docs_missing_embedding as long),
           'embeddings_orphaned',    cast(embeddings_orphaned as long),
           'dup_doc_ids',            cast(dup_doc_ids as long),
           'dup_vec_ids',            cast(dup_vec_ids as long),
           'empty_text',             cast(empty_text as long),
           'n_chars_mismatch',       cast(n_chars_mismatch as long),
           'unknown_lang',           cast(unknown_lang as long)
        ) as (check, n_bad)"""
    )


def integrity_audit_oracle() -> str:
    return """SELECT 'docs_missing_embedding' AS check,
       (SELECT COUNT(*) FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
       )::BIGINT AS n_bad
UNION ALL
SELECT 'embeddings_orphaned',
       (SELECT COUNT(*) FROM embeddings e
        WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
       )::BIGINT
UNION ALL
SELECT 'dup_doc_ids',
       (SELECT COUNT(*) FROM (
          SELECT doc_id FROM documents GROUP BY doc_id HAVING COUNT(*) > 1))::BIGINT
UNION ALL
SELECT 'dup_vec_ids',
       (SELECT COUNT(*) FROM (
          SELECT vec_id FROM embeddings GROUP BY vec_id HAVING COUNT(*) > 1))::BIGINT
UNION ALL
SELECT 'empty_text',
       (SELECT COUNT(*) FROM documents
        WHERE text IS NULL OR length(text) = 0)::BIGINT
UNION ALL
SELECT 'n_chars_mismatch',
       (SELECT COUNT(*) FROM documents
        WHERE COALESCE(n_chars, -1) <> COALESCE(length(text), -2))::BIGINT
UNION ALL
SELECT 'unknown_lang',
       (SELECT COUNT(*) FROM documents
        WHERE lang NOT IN ('en', 'es', 'fr', 'de', 'zh'))::BIGINT"""


def release_dryrun(
    docs: DataFrame, emb: DataFrame, shards: int = 16
) -> DataFrame:
    """`(shard, n_docs, n_kept, n_tokens_kept, n_kept_with_embedding,
    release_ok)` — the end-to-end dataset-release dry-run a data-eng team
    demos before shipping: the per-example manifest
    (:func:`training_manifest` — quality decision, embedding
    availability, deterministic shard) rolled up into the per-shard
    export plan (what each shard file would contain once `keep` is
    applied), stamped with the release gate from
    :func:`integrity_audit` (`release_ok` = every violation count zero).

    The composition is the point: one query answers "what would we ship,
    shard by shard, and are we ALLOWED to ship it" — the two halves the
    manifest/audit queries answer separately.

    100 TB shape: the manifest is one doc scan + one id-equi join
    (bucket-colocatable); the rollup shuffles |shards| groups of four
    BIGINT partials; the audit is one full-outer join of id-count
    pre-aggregates plus one scalar scan (see integrity_audit) whose
    single-row verdict broadcasts onto the shard report.  Rows are never
    dropped or exported here — a dry-run RECORDS the plan.
    """
    man = training_manifest(docs, emb, shards)
    per_shard = man.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum(
            F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("n_tokens_kept"),
        F.sum(
            (F.col("keep") & F.col("has_embedding")).cast("long")
        ).alias("n_kept_with_embedding"),
    )
    gate = integrity_audit(docs, emb).agg(
        (F.sum("n_bad") == 0).alias("release_ok")
    )
    return per_shard.crossJoin(F.broadcast(gate)).select(
        "shard",
        "n_docs",
        "n_kept",
        "n_tokens_kept",
        "n_kept_with_embedding",
        "release_ok",
    )


def release_dryrun_oracle(shards: int = 16) -> str:
    """DuckDB twin of :func:`release_dryrun` (composes the manifest and
    integrity oracles verbatim)."""
    return f"""WITH man AS ({training_manifest_oracle(shards)}),
audit AS ({integrity_audit_oracle()}),
gate AS (SELECT (SUM(n_bad) = 0) AS release_ok FROM audit)
SELECT m.shard,
       COUNT(*)::BIGINT AS n_docs,
       CAST(SUM(m.keep::INT) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN m.keep THEN m.n_tokens ELSE 0 END) AS BIGINT)
           AS n_tokens_kept,
       CAST(SUM((m.keep AND m.has_embedding)::INT) AS BIGINT)
           AS n_kept_with_embedding,
       g.release_ok
FROM man m CROSS JOIN gate g
GROUP BY m.shard, g.release_ok"""


# ---------------------------------------------------------------------------
# temperature-scaled source mixture — the classic multilingual sampler
# ---------------------------------------------------------------------------


def temperature_mixture(
    docs: DataFrame,
    budget_num: int = 2,
    budget_den: int = 5,
) -> DataFrame:
    """`(source, n_tokens, weight_ppm, alloc, oversampled)` — temperature-
    scaled source sampling at T=2 (exponent 1/T = 0.5): the mBERT/XLM-R
    sampler `p_i ∝ n_i^(1/T)` that up-weights small sources, spending the
    same budget ``B = total * num // den`` as :func:`unimax_allocation`.
    The `oversampled` flag (alloc > n_tokens) marks exactly the failure
    mode UniMax was designed to remove — registering both makes the
    tradeoff auditable on the same corpus.

    Exactness: n^0.5 is IEEE-754 sqrt (correctly rounded, bit-identical
    across engines — the reason for T=2 rather than an arbitrary
    exponent), scaled to integer micro-units; every downstream step
    (weight ppm, allocation) is integer cross-multiplication, with the
    `B * m_i` product in DECIMAL(38,0) so a 100 TB token total cannot
    overflow the intermediate.  Scale shape: one map-side-collapsed
    per-source aggregate; the mixture math is |sources| rows.
    """
    per_src = (
        docs.select(
            "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n")
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    m = per_src.select(
        "source",
        "n_tokens",
        F.expr("CAST(round(sqrt(n_tokens) * 1000000, 0) AS BIGINT)").alias("m"),
    )
    tot = m.agg(
        F.sum("m").alias("m_tot"), F.sum("n_tokens").alias("total")
    ).select(
        "m_tot",
        F.expr(f"(total * {int(budget_num)}) div {int(budget_den)}").alias("b"),
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            # DECIMAL product: m ≈ √tokens·10⁶ reaches ~4.5e12 at 10¹³
            # tokens, so m·10⁶ brushes 2^63 — same guard as alloc
            F.expr(
                "CAST(CAST(m AS DECIMAL(38,0)) * 1000000 div m_tot AS BIGINT)"
            ).alias("weight_ppm"),
            F.expr(
                "CAST(CAST(b AS DECIMAL(38,0)) * m div m_tot AS BIGINT)"
            ).alias("alloc"),
        )
        .withColumn("oversampled", F.col("alloc") > F.col("n_tokens"))
    )


def temperature_mixture_oracle(budget_num: int = 2, budget_den: int = 5) -> str:
    return f"""WITH tm_src AS (
  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
tm_m AS (
  SELECT source, n_tokens,
         CAST(ROUND(sqrt(n_tokens) * 1000000, 0) AS BIGINT) AS m
  FROM tm_src
),
tm_tot AS (
  SELECT SUM(m)::BIGINT AS m_tot, SUM(n_tokens)::BIGINT AS total,
         (SUM(n_tokens) * {budget_num} // {budget_den})::BIGINT AS b
  FROM tm_m
)
SELECT s.source, s.n_tokens,
       CAST(s.m::HUGEINT * 1000000 // t.m_tot AS BIGINT) AS weight_ppm,
       CAST(t.b::HUGEINT * s.m // t.m_tot AS BIGINT) AS alloc,
       (CAST(t.b::HUGEINT * s.m // t.m_tot AS BIGINT) > s.n_tokens)
           AS oversampled
FROM tm_m s, tm_tot t"""


#: rule subset for quality-weighted allocation: the density rules.  The
#: presentation rules (terminal punctuation, long words) are corpus-
#: specific enough to zero out whole corpora (the synthetic docs fail
#: no_terminal_punct 500/500) — a mixture weighted by them collapses to
#: 0/0; pick the gate to match the corpus, as C4 itself does per-source.
QUALITY_ALLOC_RULES = (
    "too_few_tokens",
    "low_stopword_density",
    "low_type_token_ratio",
)


def quality_weighted_alloc(
    docs: DataFrame,
    budget_num: int = 2,
    budget_den: int = 5,
    rules: tuple = QUALITY_ALLOC_RULES,
) -> DataFrame:
    """`(source, total_tokens, clean_tokens, clean_rate_ppm, alloc)` —
    mixture allocation weighted by USABLE tokens: each source's weight is
    its token count surviving the C4/Gopher gate (any_rule fail ⇒ doc
    contributes 0), and the budget ``B = total_clean · num // den`` is
    split ∝ clean tokens — the mixture a pipeline actually trains on,
    as opposed to the raw-count split (`corpus_unimax_alloc` /
    `corpus_temperature_mixture` on the same budget shape).

    Pure integers end to end: the gate is the shared `c4_flag_exprs`
    cross-multiplied predicates, allocations are `B·clean_i div
    clean_total` with the product in DECIMAL(38,0).  One scan, one
    |sources|-row aggregate (map-side combined), broadcast totals.
    """
    flags = c4_flag_exprs()
    any_rule = None
    for r in rules:
        e = flags[r]
        any_rule = e if any_rule is None else (any_rule | e)
    n = F.size(F.split(F.col("text"), " ")).cast("long")
    per_src = (
        docs.select(
            "source",
            n.alias("n"),
            F.when(any_rule, F.lit(0)).otherwise(n).alias("clean_n"),
        )
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum("clean_n").cast("long").alias("clean_tokens"),
        )
    )
    tot = per_src.agg(F.sum("clean_tokens").alias("clean_total")).select(
        "clean_total",
        F.expr(f"(clean_total * {int(budget_num)}) div {int(budget_den)}").alias(
            "b"
        ),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "total_tokens",
        "clean_tokens",
        # DECIMAL product: clean_tokens·10⁶ passes 2^63 at ~10¹³-token
        # sources (the same overflow the alloc product guards against)
        F.expr(
            "CAST(CAST(clean_tokens AS DECIMAL(38,0)) * 1000000"
            " div total_tokens AS BIGINT)"
        ).alias("clean_rate_ppm"),
        F.expr(
            "CASE WHEN clean_total = 0 THEN 0L ELSE"
            " CAST(CAST(b AS DECIMAL(38,0)) * clean_tokens div clean_total"
            " AS BIGINT) END"
        ).alias("alloc"),
    )


def quality_weighted_alloc_oracle(
    budget_num: int = 2,
    budget_den: int = 5,
    rules: tuple = QUALITY_ALLOC_RULES,
) -> str:
    flag_sql = c4_flag_sql("n")
    any_rule = " OR ".join(flag_sql[r] for r in rules)
    return f"""WITH qa_base AS (
  SELECT source, text, len(string_split(text, ' '))::BIGINT AS n
  FROM documents
),
qa_doc AS (
  SELECT source, n,
         CASE WHEN {any_rule} THEN 0 ELSE n END AS clean_n
  FROM qa_base
),
qa_src AS (
  SELECT source, SUM(n)::BIGINT AS total_tokens,
         SUM(clean_n)::BIGINT AS clean_tokens
  FROM qa_doc GROUP BY source
),
qa_tot AS (
  SELECT SUM(clean_tokens)::BIGINT AS clean_total,
         (SUM(clean_tokens) * {budget_num} // {budget_den})::BIGINT AS b
  FROM qa_src
)
SELECT s.source, s.total_tokens, s.clean_tokens,
       CAST(s.clean_tokens::HUGEINT * 1000000 // s.total_tokens AS BIGINT)
           AS clean_rate_ppm,
       CASE WHEN t.clean_total = 0 THEN 0
            ELSE CAST(t.b::HUGEINT * s.clean_tokens // t.clean_total AS BIGINT)
       END AS alloc
FROM qa_src s, qa_tot t"""


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


def perplexity_buckets(docs: DataFrame, n_buckets: int = 3) -> DataFrame:
    """`(source, bucket, n_docs, n_tokens, min_nll, max_nll)` — the CCNet
    head/middle/tail split: every document is scored by its mean
    negative log-likelihood under the corpus's own unigram MLE
    (textstats.unigram_logprob, the KenLM stand-in), ranked corpus-wide,
    and cut into ``n_buckets`` equal tiles — head = most fluent (lowest
    NLL, CCNet keeps it outright), tail = most improbable (dropped or
    down-sampled).  The per-(source, bucket) report shows where each
    source's text lands on the fluency spectrum.

    Determinism: per-token costs are integer micro-nats (exact BIGINT
    sums, reduce-order-proof), the global rank orders by
    ``(mean_nll, doc_id)`` (total order, no tie ambiguity), and NTILE
    semantics are identical across engines.

    Scale shape: scoring is the unigram_logprob plan (one token shuffle +
    broadcast cost table); the ntile ranks the DOC-LEVEL score table
    (2 numeric columns), not the corpus.  At extreme doc counts the
    production swap is percentile CUTPOINTS broadcast to a stateless
    per-row comparison — same output contract, no global sort; the exact
    ntile form is the oracle-stable twin (CCNet, Wenzek et al. 2020).
    """
    from pyspark.sql.window import Window

    from cloudpelican_lsd_spark.operators.textstats import unigram_logprob

    scored = unigram_logprob(docs)
    w = Window.orderBy("mean_nll", "doc_id")
    tiled = scored.withColumn("b", F.ntile(n_buckets).over(w))
    bucket = (
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == n_buckets, "tail")
        .otherwise("middle")
    )
    return (
        tiled.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("mean_nll").alias("min_nll"),
            F.max("mean_nll").alias("max_nll"),
        )
    )


def perplexity_buckets_oracle(n_buckets: int = 3) -> str:
    """DuckDB twin of :func:`perplexity_buckets` (shares the
    unigram-logprob micro-nat discipline with UNIGRAM_LOGPROB_ORACLE)."""
    return f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
vocab AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY term),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
costs AS (
  SELECT term,
         CAST(ROUND(-ln(cnt / total) * 1e6, 0) AS BIGINT) AS micro_nll
  FROM vocab CROSS JOIN tot
),
scored AS (
  SELECT t.doc_id,
         COUNT(*)::BIGINT AS n_tokens,
         ROUND(SUM(c.micro_nll) / COUNT(*) / 1e6, 6) AS mean_nll
  FROM toks t JOIN costs c USING (term)
  GROUP BY t.doc_id
),
tiled AS (
  SELECT *, ntile({n_buckets}) OVER (ORDER BY mean_nll, doc_id) AS b
  FROM scored
)
SELECT d.source,
       CASE WHEN t.b = 1 THEN 'head'
            WHEN t.b = {n_buckets} THEN 'tail'
            ELSE 'middle' END AS bucket,
       COUNT(*)::BIGINT AS n_docs,
       SUM(t.n_tokens)::BIGINT AS n_tokens,
       MIN(t.mean_nll) AS min_nll,
       MAX(t.mean_nll) AS max_nll
FROM tiled t JOIN documents d USING (doc_id)
GROUP BY 1, 2"""


def perplexity_cutpoints(
    docs: DataFrame, n_buckets: int = 3, coarse_bits: int = 16
) -> DataFrame:
    """`(source, bucket, cut_head, cut_middle, n_docs, n_tokens, min_nll,
    max_nll)` — the PRODUCTION shape of the CCNet head/middle/tail split
    (Wenzek et al. 2020): exact tercile cutpoints are computed by
    distributed two-level counting, broadcast, and every document is
    bucketed by a stateless value comparison.  No partition-less window
    anywhere — the scale fix for :func:`perplexity_buckets`, whose global
    NTILE moves every doc-level score row through ONE task.

    Semantics: a document's score is its integer micro-nat mean NLL
    (``sum_micro div n_tokens`` — exact BIGINT floor division, so the
    cutpoint search is integer arithmetic end-to-end).  With
    k_i = ceil(i·N/n_buckets), cutpoint c_i is the k_i-th smallest score
    in the sorted multiset; head = score ≤ c_1, tail = score > c_{last},
    ties all land in the lower bucket (value-based split — bucket sizes
    deviate from N/3 only on cutpoint ties, the honest production
    contract; the NTILE twin remains the equal-tile audit form).

    Scale shape (exact, two passes over the score HISTOGRAM, never the
    docs):

    1. one hash-agg to the distinct-score histogram (≤ score-domain rows,
       bounded by the value range — mean micro-NLL ≤ ~ln(total_tokens)·1e6
       ≈ 3·10⁷ — independent of doc count);
    2. coarse pass: histogram → ``score div 2^coarse_bits`` buckets
       (≤ domain/2^16 ≈ 500 rows); cumulative counts via a broadcast
       self-theta-join over that bounded table (NO window), giving each
       target rank its owning coarse bucket and base offset;
    3. fine pass: the ≤ n_buckets-1 selected coarse buckets broadcast-
       semi-join the histogram (≤ 2^coarse_bits rows each), a window
       PARTITIONED by target rank accumulates within the bucket, and the
       cutpoint is the first score crossing its rank;
    4. the ≤ n_buckets-1 cutpoints broadcast back over the doc-level
       score table for the stateless bucket tag + per-(source, bucket)
       rollup.

    The doc-level scores are ``localCheckpoint``-ed once so the cutpoint
    branch and the final rollup share one materialization of the token
    shuffle (column pruning otherwise specializes the two consumers into
    separate scans — the repo's known two-consumer trap).
    """
    from pyspark.sql.window import Window

    from cloudpelican_lsd_spark.operators.textstats import unigram_microsums

    if n_buckets < 2:
        # the cutpoint machinery needs >=1 interior boundary; a 1-bucket
        # split would silently diverge from the oracle (zero targets ->
        # all-NULL cuts) instead of tagging everything 'head'
        raise ValueError("perplexity_cutpoints: n_buckets must be >= 2")
    B = 1 << coarse_bits
    scored = (
        unigram_microsums(docs)
        .select(
            "doc_id",
            "n_tokens",
            F.expr("sum_micro div n_tokens").alias("score"),
        )
        .transform(materialize, eager=False)
    )
    hist = scored.groupBy("score").agg(F.count(F.lit(1)).alias("cnt"))
    coarse = (
        hist.withColumn("cb", F.expr(f"score div {B}"))
        .groupBy("cb")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # cumulative over the ≤ ~500-row coarse table WITHOUT a window: a
    # broadcast self-theta-join (b.cb <= a.cb) — O(rows²) on a bounded
    # value-domain table, zero single-partition stages
    a = coarse.alias("a")
    b = coarse.alias("b")
    coarse_cum = (
        a.join(F.broadcast(b), F.col("b.cb") <= F.col("a.cb"))
        .groupBy(F.col("a.cb").alias("cb"), F.col("a.cnt").alias("cnt"))
        .agg(F.sum(F.col("b.cnt")).alias("cum"))
        .withColumn("base", F.col("cum") - F.col("cnt"))
    )
    total = coarse_cum.agg(F.max("cum").alias("n_total"))
    spark = docs.sparkSession
    targets = (
        spark.range(1, n_buckets)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(total))
        .select(
            "i",
            F.expr(f"(i * n_total + {n_buckets} - 1) div {n_buckets}").alias(
                "k"
            ),
        )
    )
    # owning coarse bucket per target rank: smallest cb with cum >= k
    owner = (
        targets.join(F.broadcast(coarse_cum), F.col("cum") >= F.col("k"))
        .groupBy("i", "k")
        .agg(F.min("cb").alias("cb"))
        .join(F.broadcast(coarse_cum.select("cb", "base")), "cb")
    )
    # fine pass: only the selected buckets' scores (≤ 2^coarse_bits rows
    # per target), window PARTITIONED by target rank i
    fine = hist.withColumn("cb", F.expr(f"score div {B}")).join(
        F.broadcast(owner), "cb"
    )
    wf = (
        Window.partitionBy("i")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cut = (
        fine.withColumn("fcum", F.sum("cnt").over(wf))
        .where(F.col("base") + F.col("fcum") >= F.col("k"))
        .groupBy("i")
        .agg(F.min("score").alias("cut"))
    )
    cuts = cut.agg(
        F.min(F.when(F.col("i") == 1, F.col("cut"))).alias("c_head"),
        F.min(F.when(F.col("i") == n_buckets - 1, F.col("cut"))).alias(
            "c_tail"
        ),
    )
    tagged = scored.crossJoin(F.broadcast(cuts)).withColumn(
        "bucket",
        F.when(F.col("score") <= F.col("c_head"), "head")
        .when(F.col("score") > F.col("c_tail"), "tail")
        .otherwise("middle"),
    )
    return (
        tagged.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "bucket")
        .agg(
            F.min("c_head").alias("cut_head"),
            F.min("c_tail").alias("cut_middle"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.min("score") / 1e6, 6).alias("min_nll"),
            F.round(F.max("score") / 1e6, 6).alias("max_nll"),
        )
        .select(
            "source", "bucket", "cut_head", "cut_middle",
            "n_docs", "n_tokens", "min_nll", "max_nll",
        )
    )


def perplexity_by_lang(
    docs: DataFrame, n_buckets: int = 3, coarse_bits: int = 16
) -> DataFrame:
    """`(lang, bucket, cut_head, cut_middle, n_docs, n_tokens, min_nll,
    max_nll)` — the FAITHFUL CCNet split: head/middle/tail cutpoints
    computed **per language** (Wenzek et al. 2020 trains one KenLM and
    draws one threshold pair per language — a global split would judge
    every language against the dominant one's fluency distribution).

    Same exact two-level histogram machinery as
    :func:`perplexity_cutpoints`, grouped: the coarse cumulative
    theta-join and the target-rank arithmetic carry ``lang`` as a key
    (the coarse table is ≤ |langs| · domain/2^coarse_bits rows — still
    broadcastable), the fine window partitions by (lang, target rank),
    and the ≤ |langs|·(n_buckets−1) cutpoints broadcast back for the
    stateless per-doc bucket tag.  No partition-less window anywhere.
    """
    from pyspark.sql.window import Window

    from cloudpelican_lsd_spark.operators.textstats import unigram_microsums

    if n_buckets < 2:
        # see perplexity_cutpoints: zero targets would make the INNER
        # join on cuts drop every row instead of tagging all 'head'
        raise ValueError("perplexity_by_lang: n_buckets must be >= 2")
    B = 1 << coarse_bits
    scored = (
        unigram_microsums(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("sum_micro div n_tokens").alias("score"),
        )
        .transform(materialize, eager=False)
    )
    hist = scored.groupBy("lang", "score").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    coarse = (
        hist.withColumn("cb", F.expr(f"score div {B}"))
        .groupBy("lang", "cb")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = coarse.alias("a")
    b = coarse.alias("b")
    coarse_cum = (
        a.join(
            F.broadcast(b),
            (F.col("b.lang") == F.col("a.lang"))
            & (F.col("b.cb") <= F.col("a.cb")),
        )
        .groupBy(
            F.col("a.lang").alias("lang"),
            F.col("a.cb").alias("cb"),
            F.col("a.cnt").alias("cnt"),
        )
        .agg(F.sum(F.col("b.cnt")).alias("cum"))
        .withColumn("base", F.col("cum") - F.col("cnt"))
    )
    totals = coarse_cum.groupBy("lang").agg(F.max("cum").alias("n_total"))
    spark = docs.sparkSession
    targets = (
        spark.range(1, n_buckets)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "i",
            F.expr(f"(i * n_total + {n_buckets} - 1) div {n_buckets}").alias(
                "k"
            ),
        )
    )
    owner = (
        targets.join(
            F.broadcast(
                coarse_cum.select(
                    F.col("lang").alias("cl"), "cb", "cum", "base"
                )
            ),
            (F.col("cl") == F.col("lang")) & (F.col("cum") >= F.col("k")),
        )
        .groupBy("lang", "i", "k")
        .agg(F.min("cb").alias("cb"))
        .join(
            F.broadcast(
                coarse_cum.select(
                    F.col("lang").alias("lang"), "cb", "base"
                )
            ),
            ["lang", "cb"],
        )
    )
    fine = hist.withColumn("cb", F.expr(f"score div {B}")).join(
        F.broadcast(owner), ["lang", "cb"]
    )
    wf = (
        Window.partitionBy("lang", "i")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cut = (
        fine.withColumn("fcum", F.sum("cnt").over(wf))
        .where(F.col("base") + F.col("fcum") >= F.col("k"))
        .groupBy("lang", "i")
        .agg(F.min("score").alias("cut"))
    )
    cuts = cut.groupBy("lang").agg(
        F.min(F.when(F.col("i") == 1, F.col("cut"))).alias("c_head"),
        F.min(F.when(F.col("i") == n_buckets - 1, F.col("cut"))).alias(
            "c_tail"
        ),
    )
    tagged = scored.join(F.broadcast(cuts), "lang").withColumn(
        "bucket",
        F.when(F.col("score") <= F.col("c_head"), "head")
        .when(F.col("score") > F.col("c_tail"), "tail")
        .otherwise("middle"),
    )
    return (
        tagged.groupBy("lang", "bucket")
        .agg(
            F.min("c_head").alias("cut_head"),
            F.min("c_tail").alias("cut_middle"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.min("score") / 1e6, 6).alias("min_nll"),
            F.round(F.max("score") / 1e6, 6).alias("max_nll"),
        )
        .select(
            "lang", "bucket", "cut_head", "cut_middle",
            "n_docs", "n_tokens", "min_nll", "max_nll",
        )
    )


def perplexity_by_lang_oracle(n_buckets: int = 3) -> str:
    """DuckDB twin of :func:`perplexity_by_lang` — per-language k-th
    order statistics via a lang-partitioned row_number, same value-based
    bucket rule."""
    return f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
vocab AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY term),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
costs AS (
  SELECT term,
         CAST(ROUND(-ln(cnt / total) * 1e6, 0) AS BIGINT) AS micro_nll
  FROM vocab CROSS JOIN tot
),
scored AS (
  SELECT t.doc_id, d.lang,
         COUNT(*)::BIGINT AS n_tokens,
         CAST(SUM(c.micro_nll) // COUNT(*) AS BIGINT) AS score
  FROM toks t JOIN costs c USING (term) JOIN documents d USING (doc_id)
  GROUP BY t.doc_id, d.lang
),
n AS (SELECT lang, COUNT(*)::BIGINT AS n_total FROM scored GROUP BY lang),
ranked AS (
  SELECT lang, score,
         row_number() OVER (PARTITION BY lang ORDER BY score) AS rn
  FROM scored
),
cuts AS (
  SELECT r.lang,
    MIN(CASE WHEN r.rn = (1 * n.n_total + {n_buckets} - 1) // {n_buckets}
             THEN r.score END) AS c_head,
    MIN(CASE WHEN r.rn = (({n_buckets} - 1) * n.n_total + {n_buckets} - 1)
             // {n_buckets} THEN r.score END) AS c_tail
  FROM ranked r JOIN n USING (lang)
  GROUP BY r.lang
)
SELECT s.lang,
       CASE WHEN s.score <= c.c_head THEN 'head'
            WHEN s.score > c.c_tail THEN 'tail'
            ELSE 'middle' END AS bucket,
       c.c_head AS cut_head,
       c.c_tail AS cut_middle,
       COUNT(*)::BIGINT AS n_docs,
       SUM(s.n_tokens)::BIGINT AS n_tokens,
       ROUND(MIN(s.score) / 1e6, 6) AS min_nll,
       ROUND(MAX(s.score) / 1e6, 6) AS max_nll
FROM scored s JOIN cuts c USING (lang)
GROUP BY 1, 2, 3, 4"""


def perplexity_cutpoints_oracle(n_buckets: int = 3) -> str:
    """DuckDB twin of :func:`perplexity_cutpoints`.  The oracle computes
    the same k-th-order-statistic cutpoints directly (row_number over the
    score multiset — engines may differ in PLAN, the cutpoint VALUES are
    the sorted-multiset order statistics either way) and applies the same
    value-based bucket rule."""
    return f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
vocab AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY term),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
costs AS (
  SELECT term,
         CAST(ROUND(-ln(cnt / total) * 1e6, 0) AS BIGINT) AS micro_nll
  FROM vocab CROSS JOIN tot
),
scored AS (
  SELECT t.doc_id,
         COUNT(*)::BIGINT AS n_tokens,
         CAST(SUM(c.micro_nll) // COUNT(*) AS BIGINT) AS score
  FROM toks t JOIN costs c USING (term)
  GROUP BY t.doc_id
),
n AS (SELECT COUNT(*)::BIGINT AS n_total FROM scored),
ranked AS (
  SELECT score, row_number() OVER (ORDER BY score) AS rn FROM scored
),
cuts AS (
  SELECT
    MIN(CASE WHEN rn = (SELECT (1 * n_total + {n_buckets} - 1) // {n_buckets}
                        FROM n) THEN score END) AS c_head,
    MIN(CASE WHEN rn = (SELECT (({n_buckets} - 1) * n_total + {n_buckets} - 1)
                        // {n_buckets} FROM n) THEN score END) AS c_tail
  FROM ranked
)
SELECT d.source,
       CASE WHEN s.score <= c.c_head THEN 'head'
            WHEN s.score > c.c_tail THEN 'tail'
            ELSE 'middle' END AS bucket,
       c.c_head AS cut_head,
       c.c_tail AS cut_middle,
       COUNT(*)::BIGINT AS n_docs,
       SUM(s.n_tokens)::BIGINT AS n_tokens,
       ROUND(MIN(s.score) / 1e6, 6) AS min_nll,
       ROUND(MAX(s.score) / 1e6, 6) AS max_nll
FROM scored s CROSS JOIN cuts c JOIN documents d USING (doc_id)
GROUP BY 1, 2, 3, 4"""


# ---------------------------------------------------------------------------
# Train-vs-eval n-gram decontamination (the GPT-3 appendix-C pattern)
# ---------------------------------------------------------------------------


def eval_decontaminate(
    docs: DataFrame, n: int = 8, eval_mod: int = 97
) -> DataFrame:
    """`(source, n_train_docs, n_contaminated, n_clean)` — benchmark
    decontamination: training documents sharing ANY word n-gram with a
    held-out evaluation set are flagged for removal (the GPT-3
    appendix-C / PaLM 13-gram rule; n is configurable because the gate
    corpus is short-doc).  The eval set here is the deterministic
    ``doc_id % eval_mod == 0`` slice standing in for an external
    benchmark table — the operator takes any eval split expressible as a
    filter, and `corpus_shingle_contamination` remains the WITHIN-corpus
    variant.

    Scale shape: the train side streams through one shingle explode +
    LEFT SEMI against the DISTINCT eval shingles, then one
    |sources|-row aggregate; train text itself never shuffles.  The
    join strategy is left to AQE rather than a forced broadcast: with a
    real benchmark eval set (MBs) AQE broadcasts it at runtime, but the
    harness's `doc_id % eval_mod` stand-in slice is ~1/eval_mod OF THE
    CORPUS — it grows linearly with corpus size, so pinning
    `F.broadcast` here would OOM the driver at the 100 TB shape this
    module is framed for (AQE falls back to a shuffled semi-join
    exactly when the eval side outgrows the broadcast threshold).
    """
    from cloudpelican_lsd_spark.operators.dedup import shingle_rows

    is_eval = F.col("doc_id") % eval_mod == 0
    ev = docs.where(is_eval)
    tr = docs.where(~is_eval)
    ev_sh = shingle_rows(ev, n).select("shingle").distinct()
    hit = (
        shingle_rows(tr, n)
        .join(ev_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        tr.join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
            F.sum(
                F.when(F.col("hit").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_clean"),
        )
    )


def eval_decontaminate_oracle(n: int = 8, eval_mod: int = 97) -> str:
    """DuckDB twin of :func:`eval_decontaminate` (shares the word-n-gram
    slice arithmetic via shingles_oracle_cte)."""
    ev_cte = shingles_oracle_cte(n, base_table="ev", prefix="e")
    tr_cte = shingles_oracle_cte(n, base_table="tr", prefix="t")
    return f"""WITH ev AS (SELECT * FROM documents WHERE doc_id % {eval_mod} = 0),
tr AS (SELECT * FROM documents WHERE doc_id % {eval_mod} <> 0),
{ev_cte},
{tr_cte},
hit AS (
  SELECT DISTINCT ts.doc_id
  FROM tsh ts JOIN (SELECT DISTINCT shingle FROM esh) es USING (shingle)
)
SELECT d.source,
       COUNT(*)::BIGINT AS n_train_docs,
       CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
       CAST(SUM(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clean
FROM tr d LEFT JOIN hit h USING (doc_id)
GROUP BY d.source"""


def decontaminate_ngram_sweep(
    docs: DataFrame, sizes: tuple[int, ...] = (4, 8, 13), eval_mod: int = 97
) -> DataFrame:
    """`(n, n_train_docs, n_contaminated, contamination_ppm)` — the
    DECONTAMINATION RULE-LENGTH CURVE: how many training docs the
    any-shared-n-gram rule flags at each n in one pass.  GPT-3 used
    13-grams, PaLM 13, Llama-2 reports token-level variants — the n is a
    policy knob, and this sweep shows how the flag rate collapses as n
    grows (short n over-flags on common phrases; long n misses light
    paraphrase).  Read beside `corpus_eval_decontaminate` (the per-source
    single-n report) and `corpus_eval_decontaminate_neardup` (the
    threshold the exact rule can't see).

    One fused pass: tokenize + position-explode ONCE, then each position
    emits one struct per rule length that still fits (array_compact +
    explode — the same fused-explode shape as the Gopher n-gram panel);
    train shingles LEFT SEMI against the DISTINCT (n, shingle) eval set
    with the strategy left to AQE (a real benchmark eval set broadcasts
    at runtime; the harness's `doc_id % eval_mod` slice is ~1/eval_mod
    of the corpus and grows linearly with it, so a pinned broadcast
    would OOM at scale — see :func:`eval_decontaminate`); the n-row
    output derives from the train-count singleton, so every n appears
    even at zero contamination.  Exact integer ppm.
    """
    is_eval = F.col("doc_id") % eval_mod == 0

    # _spread (guide §2.5): the fused shingle explode is heavy per-row
    # CPU (x3 rule lengths); a single-split local scan otherwise runs
    # the whole train-side chain as ONE 2.8 s task (measured sf0.1).
    # No-op at scale (gated on scan split count), so the 100 TB path
    # adds no exchange.
    from cloudpelican_lsd_spark.operators.dedup import _spread

    def fused_shingles(side: DataFrame) -> DataFrame:
        pos = _spread(side).select(
            "doc_id", F.expr("split(lower(text), ' ')").alias("toks")
        ).select(
            "doc_id",
            "toks",
            F.explode(F.expr("sequence(1, size(toks))")).alias("i"),
        )
        branches = [
            F.when(
                F.col("i") + (n - 1) <= F.size("toks"),
                F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(
                        " ", F.expr(f"slice(toks, i, {n})")
                    ).alias("shingle"),
                ),
            )
            for n in sizes
        ]
        return pos.select(
            "doc_id", F.explode(F.array_compact(F.array(*branches))).alias("s")
        ).select("doc_id", F.col("s.n").alias("n"), F.col("s.shingle").alias("shingle"))

    ev_sh = fused_shingles(docs.where(is_eval)).select("n", "shingle").distinct()
    tr = docs.where(~is_eval)
    hits = (
        fused_shingles(tr)
        .join(ev_sh, ["n", "shingle"], "left_semi")
        .select("n", "doc_id")
        .distinct()
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    ns = (
        tr.agg(F.count(F.lit(1)).alias("n_train_docs"))
        .select(
            F.explode(F.array(*[F.lit(n) for n in sizes])).alias("n"),
            "n_train_docs",
        )
    )
    return (
        ns.join(hits, "n", "left")
        .select(
            F.col("n").cast("long").alias("n"),
            "n_train_docs",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contamination_ppm",
            F.expr("n_contaminated * 1000000 DIV n_train_docs"),
        )
    )


def decontaminate_ngram_sweep_oracle(
    sizes: tuple[int, ...] = (4, 8, 13), eval_mod: int = 97
) -> str:
    """DuckDB twin of :func:`decontaminate_ngram_sweep` — the same fused
    position explode CROSS JOINed with the rule-length list."""
    slist = ", ".join(str(n) for n in sizes)
    return f"""WITH ns AS (SELECT UNNEST([{slist}]) AS n),
ev AS (SELECT * FROM documents WHERE doc_id % {eval_mod} = 0),
tr AS (SELECT * FROM documents WHERE doc_id % {eval_mod} <> 0),
etok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM ev),
epos AS (SELECT doc_id, toks,
                unnest(generate_series(1, len(toks))) AS i FROM etok),
esh AS (SELECT DISTINCT ns.n,
               array_to_string(toks[i : i + ns.n - 1], ' ') AS shingle
        FROM epos CROSS JOIN ns WHERE i + ns.n - 1 <= len(toks)),
ttok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM tr),
tpos AS (SELECT doc_id, toks,
                unnest(generate_series(1, len(toks))) AS i FROM ttok),
tsh AS (SELECT doc_id, ns.n,
               array_to_string(toks[i : i + ns.n - 1], ' ') AS shingle
        FROM tpos CROSS JOIN ns WHERE i + ns.n - 1 <= len(toks)),
hits AS (
  SELECT t.n, COUNT(DISTINCT t.doc_id) AS n_contaminated
  FROM tsh t JOIN esh e ON e.n = t.n AND e.shingle = t.shingle
  GROUP BY t.n
),
tot AS (SELECT COUNT(*)::BIGINT AS n_train_docs FROM tr)
SELECT CAST(ns.n AS BIGINT) AS n,
       tot.n_train_docs,
       COALESCE(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       (COALESCE(h.n_contaminated, 0) * 1000000 // tot.n_train_docs)::BIGINT
         AS contamination_ppm
FROM ns CROSS JOIN tot LEFT JOIN hits h ON h.n = ns.n"""


# ---------------------------------------------------------------------------
# Cluster-safe train/val/test split — leakage prevented by construction
# ---------------------------------------------------------------------------


def split_cluster_safe(
    docs: DataFrame, pairs: DataFrame, buckets: tuple[int, int, int] = (8, 1, 1)
) -> DataFrame:
    """`(split, n_docs, n_clusters, leaky_clusters)` — train/val/test
    assignment keyed on the near-dup CLUSTER id instead of the doc id,
    so every member of a duplicate cluster lands in the SAME split.

    This is the FIX for what `corpus_split_neardup_leakage` measures:
    doc-level hashing (corpus_split_assign) puts ~`val%` of each dup
    cluster's members into val, silently leaking train content into
    eval.  Splitting on the connected-component label makes leakage
    structurally impossible — `leaky_clusters` (clusters spanning >1
    split) is the audited invariant and is 0 by construction.

    Mechanics: connected components over the candidate-pair graph label
    the clustered docs; unpaired docs are their own singleton cluster
    (`coalesce(cluster_id, doc_id)`); the split is the md5-prefix of the
    cluster id mod `sum(buckets)` (same stateless scheme as
    corpus_split_assign — reproducible under any partitioning, no RNG
    state).

    100 TB shape: CC shuffles compact `(BIGINT, BIGINT)` labels (its own
    scale story, dedup.connected_components); the label join is an
    id-equi join (bucket-colocatable); hashing and bucketing are
    stateless column math.  The docs scan + label join + hashing reduce
    ONCE to the tiny `(cluster_id, split, n)` count table, which is
    localCheckpoint-ed so the leak audit and the per-split report are
    two aggregates over one materialization (not two evaluations of the
    big subtree — the repo's documented two-consumer trap).
    """
    from cloudpelican_lsd_spark.operators.dedup import connected_components

    cc = connected_components(pairs)
    labeled = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    tot = sum(buckets)
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cs:"), F.col("cluster_id"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % tot
    )
    split = (
        F.when(b < buckets[0], "train")
        .when(b < buckets[0] + buckets[1], "val")
        .otherwise("test")
    )
    # one reduction of the heavy subtree; a cluster appears once per
    # (cluster_id, split), so per-split cluster counts are row counts
    cs = (
        labeled.withColumn("split", split)
        .groupBy("cluster_id", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize, eager=False)
    )
    leaky = (
        cs.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leaky_clusters"))
    )
    return (
        cs.groupBy("split")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaky))
        .select("split", "n_docs", "n_clusters", "leaky_clusters")
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (one exponentiated-gradient step)
# ---------------------------------------------------------------------------


def doremi_step(
    docs: DataFrame, eta_num: int = 1, eta_den: int = 2
) -> DataFrame:
    """`(source, n_tokens, fail_ppm, factor_micro, weight_ppm)` — one
    DoReMi-style exponentiated-gradient domain-reweighting step over
    sources (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds
    Up Language Model Pretraining" — public): domains whose documents
    fail the shared C4/Gopher panel more often (the deterministic
    stand-in for DoReMi's proxy-vs-reference excess loss; production
    plugs measured per-domain losses into the same plan) are up-weighted
    multiplicatively from the token-share baseline:

        w_i' ∝ n_tokens_i · e(η · fail_i),   η = eta_num/eta_den

    Completes the mixture-family triptych: temperature_mixture
    (frequency-smoothed), unimax_allocation (epoch-capped), doremi_step
    (hardness-driven) — three published allocators auditable on the
    same corpus.

    Exactness: true exp is a libm transcendental that is NOT
    bit-identical across engines (the reason log_normal has no oracle
    twin), so the update uses the 3rd-order integer polynomial in
    micro-units

        e(x) = 1e6 + x + x² div 2e6 + x³ div 6e12

    which is all-BIGINT, STRICTLY monotone in x (the property an EG
    update needs), and within 0.3 % of true exp for x = η·fail_ppm ≤
    5e5.  The weight normalization cross-multiplies in DECIMAL(38,0) so
    a 100 TB token total (wᵢ ≈ 1e13·1.65e6, ×1e6 ≈ 1.6e25) stays three
    orders under the 38-digit ceiling.

    Scale shape: ONE scan computing token count + the fused any-rule
    flag per row, map-side-collapsed to |sources| rows; the mixture
    math is a broadcast crossJoin of one aggregate row.
    """
    if eta_num < 0 or eta_den < 1:
        raise ValueError(
            f"eta={eta_num}/{eta_den}: need eta >= 0 and a positive "
            "denominator — a negative learning rate silently inverts the "
            "update (down-weighting hard domains)"
        )
    if eta_num * 1_000_000 > eta_den * 500_000:
        raise ValueError(
            f"eta={eta_num}/{eta_den} puts x = eta*fail_ppm beyond 5e5 "
            "micro-units, where the 3rd-order exp surrogate leaves its "
            "documented 0.3% envelope — keep eta <= 1/2"
        )
    flags = c4_flag_exprs()
    any_fail = F.greatest(*[expr.cast("int") for expr in flags.values()])
    per_src = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
            any_fail.alias("fail"),
        )
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("fail").cast("long").alias("n_fail"),
        )
        .select(
            "source",
            "n_tokens",
            F.expr("(n_fail * 1000000) div n_docs").alias("fail_ppm"),
        )
    )
    m = per_src.select(
        "source",
        "n_tokens",
        "fail_ppm",
        F.expr(f"(fail_ppm * {int(eta_num)}) div {int(eta_den)}").alias("x"),
    ).select(
        "source",
        "n_tokens",
        "fail_ppm",
        F.expr(
            "1000000 + x + (x * x) div 2000000"
            " + (x * x * x) div 6000000000000"
        ).alias("factor_micro"),
    )
    w = m.select(
        "*",
        F.expr(
            "CAST(n_tokens AS DECIMAL(38,0)) * factor_micro"
        ).alias("w_raw"),
    )
    tot = w.agg(F.sum("w_raw").alias("w_tot"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            "fail_ppm",
            "factor_micro",
            F.expr(
                "CAST(w_raw * 1000000 div w_tot AS BIGINT)"
            ).alias("weight_ppm"),
        )
    )


def doremi_step_oracle(eta_num: int = 1, eta_den: int = 2) -> str:
    """DuckDB twin of :func:`doremi_step` — HUGEINT carries the exact
    products DECIMAL(38,0) carries on the Spark side."""
    flag_sql = c4_flag_sql("n")
    any_rule = (
        "GREATEST(" + ", ".join(f"{e}::INT" for e in flag_sql.values()) + ")"
    )
    return f"""WITH base AS (
  SELECT source, len(string_split(text, ' '))::BIGINT AS n,
         {any_rule} AS fail
  FROM documents
),
per_src AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         (CAST(SUM(fail) AS BIGINT) * 1000000) // COUNT(*) AS fail_ppm
  FROM base GROUP BY source
),
m AS (
  SELECT source, n_tokens, fail_ppm,
         1000000 + x + (x * x) // 2000000
           + (x * x * x) // 6000000000000 AS factor_micro
  FROM (SELECT *, (fail_ppm * {int(eta_num)}) // {int(eta_den)} AS x
        FROM per_src)
),
w AS (
  SELECT *, n_tokens::HUGEINT * factor_micro AS w_raw FROM m
),
tot AS (SELECT SUM(w_raw) AS w_tot FROM w)
SELECT source, n_tokens, CAST(fail_ppm AS BIGINT) AS fail_ppm,
       CAST(factor_micro AS BIGINT) AS factor_micro,
       CAST(w_raw * 1000000 // w_tot AS BIGINT) AS weight_ppm
FROM w, tot"""


# ---------------------------------------------------------------------------
# k-anonymity release audit
# ---------------------------------------------------------------------------

K_ANON_THRESHOLDS = (2, 5, 10)


def k_anonymity(docs: DataFrame, len_bucket: int = 10) -> DataFrame:
    """`(k, n_groups_below, n_docs_at_risk, risk_ppm)` — the k-anonymity
    audit a corpus release runs before publishing metadata: over the
    quasi-identifier tuple (lang, source, token-length bucket), how many
    equivalence classes have fewer than k members, and how many documents
    sit in them.  A document alone in its (lang, source, length) class is
    re-identifiable from metadata even after the text is transformed —
    the Sweeney 2002 framing applied to corpus cards.  One row per
    audited k (:data:`K_ANON_THRESHOLDS`); all values exact BIGINT.

    100 TB shape: ONE scan, ONE hash aggregate over the quasi-identifier
    key; the per-k rollup reduces the (tiny) class-size relation three
    times with map-side partials — the heavy relation never re-shuffles.
    """
    classes = (
        docs.select(
            "lang",
            "source",
            (F.size(F.split(F.col("text"), " ")) / len_bucket)
            .cast("long")
            .alias("len_b"),
        )
        .groupBy("lang", "source", "len_b")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    total = classes.agg(F.sum("sz").alias("n"))  # no second corpus scan
    rows = None
    for k in K_ANON_THRESHOLDS:
        agg = classes.agg(
            F.lit(k).cast("long").alias("k"),
            F.sum(F.when(F.col("sz") < k, 1).otherwise(0))
            .cast("long")
            .alias("n_groups_below"),
            F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("n_docs_at_risk"),
        )
        rows = agg if rows is None else rows.unionByName(agg)
    return rows.crossJoin(F.broadcast(total)).select(
        "k",
        "n_groups_below",
        "n_docs_at_risk",
        F.expr("(n_docs_at_risk * 1000000) DIV n").alias("risk_ppm"),
    )


def k_anonymity_oracle(len_bucket: int = 10) -> str:
    ks = ", ".join(str(k) for k in K_ANON_THRESHOLDS)
    return f"""WITH classes AS (
  SELECT lang, source,
         CAST(floor(len(string_split(text, ' ')) / {len_bucket}.0) AS BIGINT)
             AS len_b,
         COUNT(*)::BIGINT AS sz
  FROM documents GROUP BY 1, 2, 3
),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
ks AS (SELECT unnest(ARRAY[{ks}])::BIGINT AS k)
SELECT ks.k,
       SUM(CASE WHEN c.sz < ks.k THEN 1 ELSE 0 END)::BIGINT AS n_groups_below,
       SUM(CASE WHEN c.sz < ks.k THEN c.sz ELSE 0 END)::BIGINT
           AS n_docs_at_risk,
       CAST((SUM(CASE WHEN c.sz < ks.k THEN c.sz ELSE 0 END) * 1000000)
            // MAX(tot.n) AS BIGINT) AS risk_ppm
FROM classes c CROSS JOIN ks CROSS JOIN tot
GROUP BY ks.k"""


def eval_decontaminate_neardup(
    docs: DataFrame,
    eval_mod: int = 97,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
) -> DataFrame:
    """`(source, n_train_docs, n_flagged, n_clean)` — NEAR-DUP benchmark
    decontamination: training documents sharing any MinHash-LSH band
    signature with the held-out eval slice are flagged.  The lexical
    middle of the decontamination triptych — exact n-gram overlap
    (eval_decontaminate) misses light paraphrase/edit noise, embedding
    distance (emb_semantic_decontaminate) needs an encoder; banded
    MinHash catches near-verbatim rewrites with neither, the same
    sketch the dedup family already maintains (one fingerprint
    infrastructure serves dedup AND decontamination).

    Scale shape: the train side's band aggregate collapses map-side to
    <= num_hashes rows per doc (the shuffle never sees shingles), then
    one LEFT SEMI against the eval bands and a |sources|-row rollup.
    The semi-join strategy is left to AQE: a real benchmark eval set is
    MBs and broadcasts at runtime, but the harness's `doc_id %
    eval_mod` stand-in is ~1/eval_mod OF THE CORPUS — pinning
    `F.broadcast` would OOM at the 100 TB shape (same reasoning as
    :func:`eval_decontaminate`).
    """
    from cloudpelican_lsd_spark.operators.dedup import minhash_band_signatures

    is_eval = F.col("doc_id") % eval_mod == 0
    ev = docs.where(is_eval)
    tr = docs.where(~is_eval)
    ev_bands = (
        minhash_band_signatures(ev, num_hashes, rows_per_band, n)
        .select("band", "sig")
        .distinct()
    )
    hit = (
        minhash_band_signatures(tr, num_hashes, rows_per_band, n)
        .join(ev_bands, ["band", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        tr.join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_flagged"),
            F.sum(
                F.when(F.col("hit").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_clean"),
        )
    )


def eval_decontaminate_neardup_oracle(
    eval_mod: int = 97,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
) -> str:
    from cloudpelican_lsd_spark.operators.dedup import minhash_oracle_cte

    ev_cte = minhash_oracle_cte(num_hashes, rows_per_band, n, "ev", "e")
    tr_cte = minhash_oracle_cte(num_hashes, rows_per_band, n, "tr", "t")
    return f"""WITH ev AS (SELECT * FROM documents WHERE doc_id % {eval_mod} = 0),
tr AS (SELECT * FROM documents WHERE doc_id % {eval_mod} <> 0),
{ev_cte},
{tr_cte},
hit AS (
  SELECT DISTINCT t.doc_id
  FROM tbands t JOIN (SELECT DISTINCT band, sig FROM ebands) e
    ON t.band = e.band AND t.sig = e.sig
)
SELECT tr.source,
       COUNT(*)::BIGINT AS n_train_docs,
       SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_flagged,
       SUM(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_clean
FROM tr LEFT JOIN hit h ON tr.doc_id = h.doc_id
GROUP BY tr.source"""


def decontaminate_agreement(
    docs: DataFrame,
    n: int = 8,
    eval_mod: int = 97,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    mh_n: int = 3,
) -> DataFrame:
    """`(source, n_train_docs, n_both, n_exact_only, n_neardup_only,
    n_clean)` — the decontamination method-agreement matrix (the
    dedup_method_agreement discipline applied to eval leakage): per
    source, how the exact n-gram rule (GPT-3/PaLM) and the banded
    MinHash near-dup rule partition the training docs.  `n_exact_only`
    catches short verbatim quotes below near-dup similarity;
    `n_neardup_only` catches paraphrased reuse sharing no 8-gram — a
    release reads BOTH before choosing a removal policy, and a large
    disagreement cell is the signal to tighten the weaker rule.

    Scale shape: both flag sets reuse their parent plans (AQE-chosen
    semi-join against the eval side — broadcast when benchmark-sized,
    shuffled when the %-slice stand-in grows with the corpus; train
    shuffles never carry shingles); the agreement join is doc_id-keyed
    over two flag relations bounded by the flagged-doc count, then one
    |sources|-row rollup.
    """
    from cloudpelican_lsd_spark.operators.dedup import (
        minhash_band_signatures,
        shingle_rows,
    )

    is_eval = F.col("doc_id") % eval_mod == 0
    ev = docs.where(is_eval)
    tr = docs.where(~is_eval)
    ev_sh = shingle_rows(ev, n).select("shingle").distinct()
    exact = (
        shingle_rows(tr, n)
        .join(ev_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("exact_hit", F.lit(1))
    )
    ev_bands = (
        minhash_band_signatures(ev, num_hashes, rows_per_band, mh_n)
        .select("band", "sig")
        .distinct()
    )
    near = (
        minhash_band_signatures(tr, num_hashes, rows_per_band, mh_n)
        .join(ev_bands, ["band", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("near_hit", F.lit(1))
    )
    flagged = (
        tr.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "source",
            F.coalesce("exact_hit", F.lit(0)).alias("e"),
            F.coalesce("near_hit", F.lit(0)).alias("m"),
        )
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
        F.sum(F.expr("IF(e = 1 AND m = 1, 1, 0)")).cast("long").alias("n_both"),
        F.sum(F.expr("IF(e = 1 AND m = 0, 1, 0)"))
        .cast("long")
        .alias("n_exact_only"),
        F.sum(F.expr("IF(e = 0 AND m = 1, 1, 0)"))
        .cast("long")
        .alias("n_neardup_only"),
        F.sum(F.expr("IF(e = 0 AND m = 0, 1, 0)")).cast("long").alias("n_clean"),
    )


def decontaminate_agreement_oracle(
    n: int = 8,
    eval_mod: int = 97,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    mh_n: int = 3,
) -> str:
    from cloudpelican_lsd_spark.operators.dedup import (
        minhash_oracle_cte,
        shingles_oracle_cte,
    )

    ev_sh = shingles_oracle_cte(n, base_table="ev", prefix="xe")
    tr_sh = shingles_oracle_cte(n, base_table="tr", prefix="xt")
    ev_mh = minhash_oracle_cte(num_hashes, rows_per_band, mh_n, "ev", "me")
    tr_mh = minhash_oracle_cte(num_hashes, rows_per_band, mh_n, "tr", "mt")
    return f"""WITH ev AS (SELECT * FROM documents WHERE doc_id % {eval_mod} = 0),
tr AS (SELECT * FROM documents WHERE doc_id % {eval_mod} <> 0),
{ev_sh},
{tr_sh},
exact AS (
  SELECT DISTINCT t.doc_id FROM xtsh t
  JOIN (SELECT DISTINCT shingle FROM xesh) e USING (shingle)
),
{ev_mh},
{tr_mh},
near AS (
  SELECT DISTINCT t.doc_id FROM mtbands t
  JOIN (SELECT DISTINCT band, sig FROM mebands) e
    ON t.band = e.band AND t.sig = e.sig
)
SELECT tr.source,
       COUNT(*)::BIGINT AS n_train_docs,
       SUM(CASE WHEN x.doc_id IS NOT NULL AND m.doc_id IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_both,
       SUM(CASE WHEN x.doc_id IS NOT NULL AND m.doc_id IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_exact_only,
       SUM(CASE WHEN x.doc_id IS NULL AND m.doc_id IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_neardup_only,
       SUM(CASE WHEN x.doc_id IS NULL AND m.doc_id IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_clean
FROM tr LEFT JOIN exact x ON tr.doc_id = x.doc_id
LEFT JOIN near m ON tr.doc_id = m.doc_id
GROUP BY tr.source"""
