"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its only dedup-adjacent construct is the
high-water-mark recompute skip, OutlierDetectionBolt.java:164-170); these
are the north-star extensions (BASELINE.json: dedup / near-dup for LLM
data pipelines), built Spark-first:

- **exact**: hash-groupBy on content — one shuffle keyed by the text hash;
  at 100 TB group on ``md5(text)`` (fixed 32-byte key) rather than the raw
  text to keep shuffle rows small.
- **MinHash + LSH**: shingle → k minhashes → band signatures → bucket join.
  The band join is the classic trick that replaces the O(n²) self-join with
  an equi-join on (band, signature): Spark executes it as a shuffled hash
  join keyed by tiny fixed-width strings.  Candidate verification (exact
  Jaccard) runs only on bucket collisions.
- **SimHash**: per-row fingerprint via higher-order functions — zero
  shuffle for the fingerprint itself; near-dup candidates bucket on the
  fingerprint prefix (hamming-distance neighbors must share the prefix
  block under the pigeonhole split).
- **n-gram Jaccard**: exact set-similarity via shingle self-join with
  integer-only (cross-multiplied) threshold math so results are
  deterministic across engines.

Portability note: every hash is ``md5`` over an explicit string so the
DuckDB oracles can reproduce the exact same values; lexicographic MIN over
md5 hex strings is the "random permutation" of classic MinHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudpelican_lsd_spark.checkpoint import materialize

#: per-partition work quantum for _spread, in ESTIMATED INPUT BYTES of
#: work per task.  The optimizer's sizeInBytes for a parquet scan is the
#: COMPRESSED file size; text compresses ~4x, so 256 KB of estimate is
#: ~1 MB of in-memory rows — small enough that the serialized-chain wins
#: survive, large enough that a ~600 KB table gets 2-3 tasks instead of
#: defaultParallelism (r8 shipped the unconditional 32-way fan-out and
#: the driver measured it as the round's only attributable regressions:
#: phash_near_pairs 0.69x, hybrid_retrieval 0.77x, rank_fusion 0.77x —
#: cold exchange + 32-task overhead exceeded the compute it spread).
_SPREAD_BYTES_PER_TASK = 256 << 10


def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate (bytes) for ``df`` — the same statistic
    broadcast-join planning uses.  For the scan-stage inputs _spread
    feeds on this is the (column-pruned) parquet file size.  Returns -1
    when the estimate is unavailable so callers can fail open."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return -1


def _spread(df: DataFrame, weight: float = 1.0) -> DataFrame:
    """Round-robin repartition ahead of heavy per-row compute — GATED and
    SIZED TO THE INPUT.

    Small inputs (one parquet file) give Spark one partition, serializing
    CPU-bound per-row hashing onto one core.  The fan-out is sized to the
    optimizer's input-size estimate (``ceil(weight * bytes / 256 KB)``,
    floor 2, cap ``defaultParallelism``): a ~1 MB scan gets a handful of
    tasks, not a cluster-wide fan-out whose per-task overhead exceeds the
    compute it parallelizes (measured r8: the unconditional 32-way spread
    cost the driver's cold runs 1.3-1.5x on the smallest inputs while the
    8-core run beat the 32-core one).  ``weight`` scales the estimate for
    callers whose downstream per-byte cost is far above the md5/shingle
    chains this constant was sized for (the one weighted caller is the
    BM25 token chain in operators/textstats.py, which scales by the
    query's term count; the multimodal decode spreads at the default
    weight).

    At 100 TB the scan already has thousands of splits, so the
    repartition is skipped entirely: it is a no-op (returns ``df``
    unchanged, no Exchange in the plan) when the input plan already
    carries >= target partitions.  Shuffling the full raw corpus
    round-robin before shingling would otherwise be the single largest
    exchange on the 100 TB read path.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _plan_size_bytes(df)
    if est >= 0:
        # fail open on a missing estimate (target stays defaultParallelism:
        # wrong-but-bounded); otherwise right-size the fan-out to the work
        want = -(-int(est * weight) // _SPREAD_BYTES_PER_TASK)
        target = max(2, min(target, want))
    # getNumPartitions inspects the physical plan only (no job runs); a
    # multi-split scan passes through with zero added Exchange.  Caveats:
    # the probe reads the PRE-AQE static count, so a post-shuffle input
    # would report spark.sql.shuffle.partitions even if AQE later
    # coalesces it (every current caller feeds scan-stage inputs, where
    # the count is real), and .rdd pays one physical-plan compile — cheap
    # next to the hashing work being spread, but not free.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _spread_explode_input(df: DataFrame) -> DataFrame:
    """Unconditional round-robin repartition ahead of a row-AMPLIFYING
    explode whose input is a post-shuffle stage.

    AQE coalesces post-shuffle partitions by input BYTES, which
    undercounts an exploding stage's work by the amplification factor:
    on the 10x-scaled corpus (tools/scale_testdata.py) the compact
    fingerprint-pair rows coalesced to 2 partitions and the doc-pair
    expansion then materialized 82M rows in those 2 tasks (measured; 32
    even tasks after this repartition).  ``_spread`` cannot help here —
    its static-partition-count probe reads the pre-AQE count, which is
    already >= defaultParallelism for any post-shuffle input.  An
    EXPLICIT-count round-robin exchange is exempt from AQE coalescing,
    and the rows being shuffled are the compact pre-explosion ones, so
    the cost is small and scale-independent of the output size.  The
    residual bound is one input row's own explosion (|ia| x |ib| for one
    fingerprint pair), which no row-level repartition can split."""
    return df.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: `(keeper_id, n_copies)` per distinct
    text, keeper = lowest doc_id.  `(n_copies > 1)` rows are the dup sets."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("text_hash", "keeper_id", "n_copies")
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep one row per distinct text (the lowest doc_id)."""
    keep = exact_duplicates(docs).select(F.col("keeper_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------


def shingle_rows(
    docs: DataFrame,
    n: int = 3,
    text_expr: str = "lower(text)",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """`(doc_id, *carry, shingle)` — word n-grams of ``text_expr`` WITH
    duplicates; ``carry`` names extra input columns to keep on each
    shingle row (e.g. ``("lang",)`` for per-language feature fits).

    Position-explode + ``element_at`` concat, NOT a ``transform()`` lambda:
    higher-order-function lambdas run on the interpreted expression path,
    measured ~6x slower than this whole-stage-codegen shape at sf0.1 (the
    shingle build dominated the whole Jaccard pipeline).  Duplicate
    n-grams are preserved — MIN-style consumers (minhash, fingerprints)
    are duplicate-insensitive; set-semantics consumers dedup downstream.

    The `size >= n` CASE guard matters: Spark's ``sequence(1, 0)`` is the
    DESCENDING sequence [1, 0] (not empty like DuckDB's generate_series),
    so a doc shorter than n words would otherwise emit garbage positions.
    """
    els = ", ".join(f"element_at(toks, i + {k})" for k in range(n))
    keep = list(carry)
    return (
        docs.select(
            "doc_id", *keep, F.expr(f"split({text_expr}, ' ')").alias("toks")
        )
        .select(
            "doc_id",
            *keep,
            "toks",
            F.explode(
                F.expr(
                    f"CASE WHEN size(toks) >= {n} THEN"
                    f" sequence(1, size(toks) - {n - 1}) ELSE array() END"
                )
            ).alias("i"),
        )
        .select("doc_id", *keep, F.expr(f"concat_ws(' ', {els})").alias("shingle"))
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """`(doc_id, shingle)` — DISTINCT word n-grams of lower(text)."""
    return shingle_rows(docs, n).distinct()


SHINGLES_ORACLE_CTE = """\
{p}tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM {t}),
{p}pos AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {nm1}, 0))) AS i
  FROM {p}tok
),
{p}sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + {nm2}], ' ') AS shingle
  FROM {p}pos
)"""


def shingles_oracle_cte(
    n: int = 3, base_table: str = "documents", prefix: str = ""
) -> str:
    """DuckDB CTE chain yielding ``{prefix}sh (doc_id, shingle)`` — THE
    one place that owns the word-n-gram slice arithmetic (the off-by-one
    `generate_series(1, len-n+1)` + inclusive `toks[i : i+n-1]` pair);
    parameterized so every oracle composes it instead of re-deriving it."""
    return SHINGLES_ORACLE_CTE.format(nm1=n - 1, nm2=n - 1, t=base_table, p=prefix)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 12, n: int = 3
) -> DataFrame:
    """`(doc_id, m0..m{num_hashes-1})` — the wide minhash signature table.

    All num_hashes minhashes as columns of ONE hash aggregate: the
    map-side partial MIN collapses each mapper's shingles to a single
    row per doc before the (only) shuffle — vs the explode×seeds
    formulation this removes the seed-fold row blowup and a second
    shuffle entirely.  The "permutations" are disjoint 5-hex (20-bit)
    slices of two md5s — 2 digest evaluations per shingle instead of
    num_hashes (md5 is the hot loop, and the only digest DuckDB
    reproduces bit-for-bit).
    """
    if not (1 <= num_hashes and num_hashes * 5 <= 64):
        # a real raise, not assert: `python -O` strips asserts and the
        # 13th slice would silently read past the 64-hex digest pair
        raise ValueError(
            f"num_hashes={num_hashes}: the sliced-md5 scheme supports "
            "1..12 hashes (12 disjoint 5-hex slices of two md5s)"
        )
    # shingle_rows keeps duplicate n-grams — MIN is duplicate-insensitive,
    # so skipping the dedup avoids a per-row array_distinct entirely
    sh = shingle_rows(_spread(docs), n)
    hashed = sh.select(
        "doc_id",
        F.concat(
            F.md5(F.concat(F.lit("0:"), F.col("shingle"))),
            F.md5(F.concat(F.lit("1:"), F.col("shingle"))),
        ).alias("h"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col("h"), 1 + 5 * s, 5)).alias(f"m{s}")
            for s in range(num_hashes)
        ]
    )


def minhash_band_signatures(
    docs: DataFrame, num_hashes: int = 12, rows_per_band: int = 3, n: int = 3
) -> DataFrame:
    """`(doc_id, band, sig)` — LSH band signatures.

    minhash_s(doc) = MIN over shingles of md5('<s>:'||shingle); a band
    signature joins `rows_per_band` consecutive minhashes.

    Physical shape: explode shingles × seeds, md5 inside whole-stage
    codegen, then a hash aggregate whose map-side partial MIN collapses the
    shuffle to ≤ num_hashes rows per (doc, mapper) — the network never sees
    the shingles.  (A per-row higher-order-function formulation avoids the
    explode entirely but evaluates md5 in the interpreted lambda path —
    measured ~2x slower despite zero shuffle; codegen wins.)
    """
    mins = minhash_signatures(docs, num_hashes, n)
    return bands_from_signatures(mins, num_hashes, rows_per_band)


def bands_from_signatures(
    mins: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> DataFrame:
    """`(doc_id, band, sig)` from a wide signature table — split out so a
    caller that also needs the signatures (e.g. the estimate-vs-true
    audit) can build both from ONE aggregate and let Spark reuse the
    exchange instead of recomputing the corpus scan.

    ``num_hashes`` that is not a multiple of ``rows_per_band`` drops the
    trailing hashes from banding (standard LSH: only full bands bucket);
    a combination yielding ZERO bands is rejected loudly — `stack(0)`
    would otherwise fail with an unrelated AnalysisException."""
    if rows_per_band < 1 or num_hashes < rows_per_band:
        raise ValueError(
            f"num_hashes={num_hashes}, rows_per_band={rows_per_band}: "
            "need 1 <= rows_per_band <= num_hashes — this combination "
            "yields zero bands, so every query would match nothing"
        )
    n_bands = num_hashes // rows_per_band
    band_args = ", ".join(
        f"{b}, concat_ws('|', {', '.join(f'm{b * rows_per_band + r}' for r in range(rows_per_band))})"
        for b in range(n_bands)
    )
    return mins.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {band_args})").alias("band", "sig"),
    )


def _group_pairs(
    rows: DataFrame,
    group_keys: list[str],
    member_cols: list[str],
    max_group: int | None = None,
) -> DataFrame:
    """Columns `(x, y)` — structs of `member_cols` for every ordered pair
    of distinct members sharing `group_keys`, with ``x.<first col> <
    y.<first col>`` (members are sorted on the struct, whose first field
    must be the unique id).

    groupBy + chained codegen Generates (posexplode + explode-of-slice):
    one shuffle, input computed once — a self-join would recompute the
    whole upstream pipeline on both sides (Spark does not reuse the
    exchange across the two aliases) and shuffle it twice.  A nested
    transform() lambda formulation was measured ~45% slower on the
    interpreted expression evaluator.

    ``collect_set`` (not list) makes duplicate member structs impossible —
    e.g. two shingles of one document colliding to the same xxhash64 group
    key would otherwise emit a spurious self-pair.  ``max_group`` caps the
    group size (skew guard; see ngram_jaccard_pairs' max_df).

    The cap is enforced BEFORE the collect, via a window COUNT over one
    explicit-count exchange on ``group_keys``: callers' inputs carry
    distinct members per bucket, so COUNT(*) over the bucket is the set
    size, and filtering on it drops oversized buckets before any
    collect_set state is built (filtering on ``size(mem)`` after
    collecting would bound the *output* but not the aggregation state).
    r8 shape change: the previous count-pre-pass + broadcast-anti-join
    consumed ``rows`` TWICE — Spark plans the two consumers as separate
    subtrees, so every caller's upstream (exploded shingle / chunk-md5 /
    band-hash chains over the whole corpus) was computed twice and
    exchanged twice.  The window form computes the upstream once and
    exchanges it once; WindowExec buffers one bucket at a time in a
    disk-spillable row array, so a degenerate bucket costs bounded
    memory and is dropped before the collect.  The exchange uses an
    explicit partition count (exempt from AQE bytes-based coalescing)
    because everything downstream — window, collect, posexplode pair
    expansion — is row-amplifying work AQE undercounts (see
    ``_spread_explode_input``).  The groupBy then reuses the window's
    hash partitioning: one exchange total.
    """
    if max_group is not None:
        from pyspark.sql import Window

        n_part = int(
            rows.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        w = Window.partitionBy(*group_keys)
        rows = (
            rows.repartition(n_part, *group_keys)
            .withColumn("_gp_df", F.count(F.lit(1)).over(w))
            .where(F.col("_gp_df") <= max_group)
            .drop("_gp_df")
        )
    grouped = rows.groupBy(*group_keys).agg(
        F.sort_array(F.collect_set(F.struct(*member_cols))).alias("mem")
    )
    return (
        grouped.where(F.size("mem") >= 2)
        .select("mem", F.posexplode("mem").alias("i", "x"))
        .select(
            "x",
            F.explode(F.expr("slice(mem, i + 2, size(mem) - i - 1)")).alias("y"),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    max_group: int | None = None,
) -> DataFrame:
    """Distinct `(doc_a, doc_b)` sharing at least one LSH band — the
    near-dup candidate set, via per-bucket pair generation.  ``max_group``
    skips buckets with more members (skew guard: a degenerate signature —
    e.g. boilerplate-dominated corpora — would emit quadratic pairs)."""
    bands = minhash_band_signatures(docs, num_hashes, rows_per_band, n)
    return (
        _group_pairs(bands, ["band", "sig"], ["doc_id"], max_group=max_group)
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_oracle_cte(
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    base_table: str = "documents",
    prefix: str = "",
) -> str:
    """DuckDB CTE chain yielding ``{prefix}bands (doc_id, band, sig)``.
    ``prefix`` lets one oracle build bands over two tables (e.g. the
    incremental batch-vs-index query) without CTE name collisions."""
    p = prefix
    return f"""{shingles_oracle_cte(n, base_table, p)},
{p}hashed AS (
  SELECT doc_id, md5('0:' || shingle) || md5('1:' || shingle) AS h FROM {p}sh
),
{p}seeds AS (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed),
{p}mh AS (
  SELECT doc_id, seed, min(substr(h, 1 + 5 * seed, 5)) AS mh
  FROM {p}hashed, {p}seeds GROUP BY doc_id, seed
),
{p}bands AS (
  SELECT doc_id, seed // {rows_per_band} AS band,
         string_agg(mh, '|' ORDER BY seed) AS sig
  FROM {p}mh GROUP BY doc_id, seed // {rows_per_band}
)"""


def cross_source_matrix(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    max_group: int | None = None,
) -> DataFrame:
    """`(source_a, source_b, n_pairs)` — near-duplicate pair counts per
    unordered source pair: which corpus sources copy which.

    The mixture-decision input a training pipeline needs before weighting
    sources: a high off-diagonal cell (e.g. crawl × curated) means one
    source republishes the other, so their token budgets double-count;
    the diagonal measures within-source redundancy.

    Shape: the LSH candidate pairs (band-bucket join, no O(n²) anywhere)
    joined back to a 2-column `(doc_id, source)` projection of the corpus
    — column pruning reaches the parquet scan, so the join-back reads
    ~16 bytes/doc, not the text.  Both lookups shuffle on doc_id (the
    pair set is collision-bounded, orders of magnitude smaller than the
    corpus); the final matrix groupBy is |sources|² rows.  `least/
    greatest` canonicalizes the unordered pair so (a,b) and (b,a) land
    in one cell.
    """
    pairs = lsh_candidate_pairs(docs, num_hashes, rows_per_band, n, max_group)
    meta = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            meta.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def cross_source_matrix_oracle(
    pairs_sql: str, base_table: str = "docs_planted"
) -> str:
    """DuckDB twin: ``pairs_sql`` must yield `(doc_a, doc_b)` (e.g. the
    minhash bands self-join); composes the same source lookup + unordered
    canonicalization."""
    return f"""pairs AS ({pairs_sql}),
labeled AS (
  SELECT least(ma.source, mb.source) AS source_a,
         greatest(ma.source, mb.source) AS source_b
  FROM pairs
  JOIN {base_table} ma ON ma.doc_id = pairs.doc_a
  JOIN {base_table} mb ON mb.doc_id = pairs.doc_b
)
SELECT source_a, source_b, COUNT(*)::BIGINT AS n_pairs
FROM labeled GROUP BY source_a, source_b"""


def incremental_near_dup_pairs(
    batch: DataFrame,
    index_bands: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
) -> DataFrame:
    """`(new_id, old_id)` — near-dup candidates of a NEW ingestion batch
    against a **persisted band-signature index** (the output of
    :func:`minhash_band_signatures`, written once and reused).

    The production-ingestion mode at 100 TB: re-running
    :func:`lsh_candidate_pairs` over corpus+batch would re-shingle and
    re-hash the entire historical corpus every day.  Instead the corpus
    is fingerprinted ONCE into an index of ``num_hashes/rows_per_band``
    fixed-width rows per document (~100 bytes/doc — a 100 TB corpus
    compresses to a low-TB index), and each day's batch — typically
    1000× smaller — is shingled alone and equi-joined against it on
    `(band, sig)`.  Spark broadcasts nothing and shuffles only the
    batch's bands plus the (bucketed) index; persisting the index
    parquet bucketed by `band` makes the daily join co-located with
    zero index-side shuffle.  Batch-internal duplicates are a separate
    concern: run :func:`lsh_candidate_pairs` on the batch alone (it is
    small), then append the batch's bands to the index.

    A persisted index built with different `(num_hashes,
    rows_per_band)` makes this join silently match nothing — run
    :func:`assert_band_index_compatible` once at job startup.
    """
    nb = minhash_band_signatures(batch, num_hashes, rows_per_band, n)
    return (
        nb.select("band", "sig", F.col("doc_id").alias("new_id"))
        .join(
            index_bands.select(
                "band", "sig", F.col("doc_id").alias("old_id")
            ),
            ["band", "sig"],
        )
        .select("new_id", "old_id")
        .distinct()
    )


def assert_band_index_compatible(
    index_bands: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> None:
    """Fail fast when a persisted band index was built with different
    `(num_hashes, rows_per_band)` than the batch side is about to use —
    otherwise :func:`incremental_near_dup_pairs`'s (band, sig) join
    silently matches nothing and daily dedup stops catching true
    duplicates with no error.  Checks one sample row: the signature must
    join exactly `rows_per_band` 5-hex minhash segments, and band ids
    must stay below `num_hashes // rows_per_band`.  Costs one
    `limit(1)` job + one bounded max — run it once at ingestion-job
    startup, not per batch.
    """
    n_bands = num_hashes // rows_per_band
    sample = index_bands.select("sig").limit(1).collect()
    if not sample:
        return  # empty index: vacuously compatible
    segs = sample[0].sig.split("|")
    if len(segs) != rows_per_band or any(len(s) != 5 for s in segs):
        raise ValueError(
            f"band index incompatible: sig {sample[0].sig!r} has "
            f"{len(segs)} segment(s), caller expects rows_per_band="
            f"{rows_per_band}"
        )
    max_band = index_bands.agg(F.max("band").alias("m")).collect()[0].m
    if max_band is not None and max_band >= n_bands:
        raise ValueError(
            f"band index incompatible: max band id {max_band} >= "
            f"{n_bands} bands implied by num_hashes={num_hashes}, "
            f"rows_per_band={rows_per_band}"
        )


# ---------------------------------------------------------------------------
# Bloom-filter membership prescreen (incremental exact dedup, cheap path)
# ---------------------------------------------------------------------------


def _bloom_pos(text_col: F.Column, i: int, m: int) -> F.Column:
    """Bit position *i*: the ``i``-th 4-hex (16-bit) slice of md5(text),
    mod ``m`` — the only digest DuckDB reproduces bit-for-bit (the same
    sliced-md5 scheme as minhash_signatures)."""
    return (
        F.conv(F.substring(F.md5(text_col), 1 + 4 * i, 4), 16, 10).cast("long")
        % m
    )


def bloom_prefilter(
    corpus: DataFrame, batch: DataFrame, k: int = 3, bits_log2: int = 16
) -> DataFrame:
    """`(doc_id, status)` for every batch doc: exact-dup membership of a
    NEW ingestion batch against the historical corpus, with a Bloom-filter
    prescreen so the expensive exact comparison only runs on possible
    members.

    - ``new_bloom``: at least one of the doc's k bit positions is absent
      from the corpus filter — **definitely** new, no exact check needed
      (Bloom filters have no false negatives);
    - ``dup_confirmed``: all k positions present AND the md5 matches a
      corpus doc;
    - ``false_positive``: all k positions present but no md5 match — the
      filter's (bounded, deterministic here) false-positive cost.

    Scale shape: the position set is at most ``2**bits_log2`` distinct
    BIGINTs regardless of corpus size — it broadcasts (the relational
    stand-in for shipping a real ~GB bitmask via `spark.util.sketch`),
    so the daily batch never shuffles against the 100 TB corpus; the
    exact md5 equi-join runs only over the ``all-positions-hit`` subset,
    which the prescreen has already shrunk to true dups + the small FP
    tail.  Size ``m`` to the corpus (fill <= ~25% keeps FP^k tiny) —
    at 16 bits the gate corpus fills ~2% (sf0.01) / ~20% (sf0.1).

    ``k`` 16-bit slices of one md5 stand in for k independent hashes
    (standard double-hashing compromise, and what keeps the oracle
    exact).  Requires ``4*k <= 32`` hex chars and ``bits_log2 <= 16``.
    """
    if not (1 <= k and 4 * k <= 32):
        raise ValueError(
            f"bloom_prefilter: k={k} needs 1 <= k <= 8 (k non-overlapping "
            "4-hex-char md5 slices must fit in 32 hex chars)"
        )
    if not (1 <= bits_log2 <= 16):
        raise ValueError(
            f"bloom_prefilter: bits_log2={bits_log2} must be in [1, 16] "
            "(positions are 16-bit md5 slices)"
        )
    m = 1 << bits_log2
    cpos = (
        corpus.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("text"), i, m) for i in range(k)])
            ).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    bpos = batch.select(
        "doc_id",
        F.explode(
            F.array(*[_bloom_pos(F.col("text"), i, m) for i in range(k)])
        ).alias("pos"),
    ).distinct()
    maybe = (
        bpos.join(F.broadcast(cpos), "pos", "left")
        .groupBy("doc_id")
        .agg(
            F.expr("bool_and(coalesce(hit, false))").alias("all_hit")
        )
    )
    exact = (
        batch.join(maybe.where(F.col("all_hit")), "doc_id", "left_semi")
        .select("doc_id", F.md5("text").alias("h"))
        .join(
            corpus.select(F.md5("text").alias("h")).distinct(), "h", "left_semi"
        )
        .select("doc_id")
        .withColumn("exact", F.lit(True))
    )
    return maybe.join(exact, "doc_id", "left").select(
        "doc_id",
        F.when(~F.col("all_hit"), F.lit("new_bloom"))
        .when(F.col("exact"), F.lit("dup_confirmed"))
        .otherwise(F.lit("false_positive"))
        .alias("status"),
    )


def bloom_prefilter_oracle(k: int = 3, bits_log2: int = 16) -> str:
    """DuckDB twin of bloom_prefilter over the standard gate batch
    (50 re-ingested docs — guaranteed dup_confirmed — plus 50 edited
    docs, which land new_bloom or false_positive as the data decides)."""
    m = 1 << bits_log2
    return f"""WITH bloom_batch AS (
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 200000, text || ' v2' FROM documents
  WHERE doc_id >= 50 AND doc_id < 100
),
cpos AS (
  SELECT DISTINCT ('0x' || substr(md5(text), 1 + 4*t.i, 4))::BIGINT % {m} AS pos
  FROM documents, unnest(generate_series(0, {k - 1})) AS t(i)
),
bpos AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(text), 1 + 4*t.i, 4))::BIGINT % {m} AS pos
  FROM bloom_batch, unnest(generate_series(0, {k - 1})) AS t(i)
),
maybe AS (
  SELECT b.doc_id, BOOL_AND(c.pos IS NOT NULL) AS all_hit
  FROM bpos b LEFT JOIN cpos c ON b.pos = c.pos
  GROUP BY b.doc_id
),
exact AS (
  SELECT DISTINCT b.doc_id FROM bloom_batch b
  JOIN documents d ON md5(b.text) = md5(d.text)
)
SELECT m.doc_id,
       CASE WHEN NOT m.all_hit THEN 'new_bloom'
            WHEN e.doc_id IS NOT NULL THEN 'dup_confirmed'
            ELSE 'false_positive' END AS status
FROM maybe m LEFT JOIN exact e ON m.doc_id = e.doc_id"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact set similarity, integer-deterministic)
# ---------------------------------------------------------------------------



def doc_shingle_hash_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """`(doc_id, sz, sh_h)` — each document's DISTINCT-shingle xxhash64
    set, exploded with the exact set size attached: the shared front end
    of every inverted-index set-overlap operator (Jaccard, containment,
    novelty).  One definition so the planned 128-bit-hash switch at
    100 TB happens in one place.  See ngram_jaccard_pairs for why this
    shape (collect_set of 8-byte hashes, codegen shingles, _spread)."""
    return (
        shingle_rows(_spread(docs), n)
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("shingle")).alias("hs"))
        .select("doc_id", F.size("hs").alias("sz"), F.explode("hs").alias("sh_h"))
    )


def pair_intersections(sh: DataFrame, max_df: int | None = None) -> DataFrame:
    """`(doc_a, doc_b, inter_cnt, sz_a, sz_b)` — exact intersection size
    and set sizes for every doc pair sharing >= 1 shingle hash, via the
    one-shuffle `_group_pairs` inverted index (with the `max_df` hot-key
    guard).  Shared by the Jaccard and containment predicates — only the
    final threshold differs between them."""
    pairs = _group_pairs(sh, ["sh_h"], ["doc_id", "sz"], max_group=max_df).select(
        F.struct(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.sz").alias("sz_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.sz").alias("sz_b"),
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
    ).agg(
        F.count(F.lit(1)).alias("inter_cnt"),
        F.max(F.col("p.sz_a")).alias("sz_a"),
        F.max(F.col("p.sz_b")).alias("sz_b"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Pairs with Jaccard(shingles_a, shingles_b) >= num/den.

    Threshold compares ``inter * den >= union * num`` in exact integer
    arithmetic — no float rounding, hash-stable across engines.  The
    shingle self-join only touches docs sharing a shingle (inverted-index
    join), not the full cross product.

    ``max_df`` is the skew guard for 100 TB corpora: shingles appearing in
    more than max_df documents are excluded from intersection counting
    (the union denominator keeps the full set sizes).  A shingle shared by
    k docs emits k·(k-1)/2 pairs, so one stop-phrase shingle with k=10⁶
    would emit 5·10¹¹ pairs and stall its reducer; document-frequency
    pruning bounds every group at max_df·(max_df-1)/2.  The bias is
    one-sided (estimated Jaccard ≤ true Jaccard, only for pairs sharing
    hot shingles — which carry the least signal).  Deterministic: the df
    cut is an exact integer predicate, reproduced verbatim in the oracle.
    """
    # codegen shingle explode (shingle_rows), then per-doc collect_set of
    # xxhash64(shingle): the hash-set IS the distinct-shingle set, its
    # size the exact set size — 8-byte inverted-index keys instead of
    # n-word strings, and the whole dedup happens in one hash aggregate
    # instead of a per-row array_distinct on the interpreted path
    # (collision odds ~|shingles|²/2⁶⁵: at 100 TB switch to a 128-bit
    # hash pair, same plan).  _spread parallelizes the shingling when the
    # scan has few splits.
    #
    # Pair generation is a groupBy(shingle) + per-group combination
    # explode, NOT a self-join: a self-join recomputes the whole shingle
    # pipeline on both sides (no exchange reuse) and shuffles the shingle
    # set twice; this shape computes shingles once and shuffles once.  A
    # shingle shared by k docs emits k·(k-1)/2 pairs either way.
    agg = pair_intersections(doc_shingle_hash_rows(docs, n), max_df=max_df)
    return (
        agg.select(
            "doc_a",
            "doc_b",
            "inter_cnt",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter_cnt")).alias(
                "union_cnt"
            ),
        )
        .where(
            F.col("inter_cnt") * threshold_den
            >= F.col("union_cnt") * threshold_num
        )
    )


def ngram_jaccard_oracle(
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    max_df: int | None = None,
) -> str:
    df_filter = (
        f"""
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= {max_df}) ok ON ok.shingle = a.shingle"""
        if max_df is not None
        else ""
    )
    return f"""WITH {shingles_oracle_cte(n)},
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS inter_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id{df_filter}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_cnt,
       (sa.sz + sb.sz - inter_cnt)::BIGINT AS union_cnt
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_cnt * {threshold_den} >= (sa.sz + sb.sz - inter_cnt) * {threshold_num}"""


# ---------------------------------------------------------------------------
# SimHash (32-bit, md5-nibble projection — portable across engines)
# ---------------------------------------------------------------------------

_HI_NIBBLES = "('8','9','a','b','c','d','e','f')"

# (oracle CTEs defined after simhash_near_pairs below)


def simhash(docs: DataFrame) -> DataFrame:
    """`(doc_id, simhash BIGINT)` — 32-bit SimHash over distinct tokens.

    Bit p is the sign of Σ_token ±1 where +1 iff the p-th hex nibble of
    md5(token) has its high bit set.  One shuffle, carrying one 32-column
    partial-sum row per (doc, mapper) — the network never sees tokens.
    """
    # explode distinct tokens, md5 once per token in whole-stage codegen,
    # then ONE hash aggregate with 32 per-position ±1 sums (map-side
    # partial: the shuffle carries one 32-column row per doc).  A per-row
    # HOF fold avoids the explode but evaluates md5 on the interpreted
    # expression path — measured ~2x slower.
    hashed = (
        _spread(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).alias("tok"),
        )
        .select("doc_id", F.md5(F.col("tok")).alias("h"))
    )
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"IF(substr(h, {p}, 1) IN {_HI_NIBBLES}, 1, -1)")
            ).alias(f"s{p}")
            for p in range(1, 33)
        ]
    )
    fp = " + ".join(f"IF(s{p} > 0, {1 << (p - 1)}, 0)" for p in range(1, 33))
    return sums.select("doc_id", F.expr(f"CAST({fp} AS BIGINT)").alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 6, max_group: int | None = None
) -> DataFrame:
    """Candidate near-dup pairs: same high-16-bit prefix block AND
    hamming(simhash) <= max_hamming.  Prefix bucketing keeps the join an
    equi-join (no cross product); at scale use 4 rotated prefix blocks to
    guarantee recall for hamming <= 3 per the pigeonhole principle.

    Pairs are generated over DISTINCT fingerprints and expanded to doc
    pairs only at the end — the same scale move
    :func:`simhash_near_pairs_complete` documents.  Bucketing doc rows
    directly makes the skewed prefix bucket a single-task pair bomb:
    on a 10x-scaled corpus (tools/scale_testdata.py) the top prefix
    bucket held 8,554 DOC rows (~37M pairs materialized in ONE task,
    measured) but only 752 distinct fingerprints (~280k fp pairs) —
    collision multiplicity belongs in the final explode, where it is
    the actual output, not in the per-bucket quadratic.  ``max_group``
    therefore caps DISTINCT FINGERPRINTS per prefix bucket, not docs.
    """
    grp = simhash(docs).groupBy("simhash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    # hamming-0: ordered doc pairs within one fingerprint group (two docs
    # sharing a fingerprint trivially share its prefix)
    within = (
        _spread_explode_input(grp.where(F.size("ids") >= 2))
        .select("ids", F.posexplode("ids").alias("i", "a"))
        .select(
            F.col("a").alias("doc_a"),
            F.explode(
                F.expr("slice(ids, i + 2, size(ids) - i - 1)")
            ).alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    buckets = grp.withColumn("prefix", F.expr("simhash >> 16"))
    # each fingerprint occupies exactly one prefix bucket, so fp pairs
    # are unique by construction (no doc-level distinct needed)
    fp_pairs = (
        _group_pairs(
            buckets, ["prefix"], ["simhash", "ids"], max_group=max_group
        )
        .select(
            F.col("x.ids").alias("ia"),
            F.col("y.ids").alias("ib"),
            F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    cross = (
        _spread_explode_input(fp_pairs)
        .select(F.explode("ia").alias("a"), "ib", "hamming")
        .select("a", F.explode("ib").alias("b"), "hamming")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    return within.unionByName(cross)


def simhash_near_pairs_complete(
    docs: DataFrame, max_hamming: int = 3, n_blocks: int = 4
) -> DataFrame:
    """`(doc_a, doc_b, hamming)` with GUARANTEED recall for
    hamming <= n_blocks - 1.

    Pigeonhole: split the 32-bit fingerprint into `n_blocks` disjoint
    blocks; a pair differing in <= n_blocks-1 bits must agree on at least
    one whole block, so bucketing once per block and unioning the
    per-block candidates cannot miss such a pair.  (The single high-16
    prefix variant above is the cheaper heuristic: one table, no recall
    guarantee.)

    Candidates are generated over DISTINCT fingerprints, and duplicate
    fingerprints expand to doc pairs only at the very end — see the
    inline comment for the measured 10x candidate reduction this buys on
    collision-heavy corpora.  The fingerprint aggregation feeds two
    consumers (within-group pairs + block bucketing) and is evaluated
    twice (~2x a simhash_fingerprints scan — cheap, bounded); the
    alternative, one combined pair-expansion branch, would need a
    doc-level distinct over the full candidate set, which is the
    quadratic shuffle this rewrite removes.
    """
    if n_blocks < 1 or 32 % n_blocks != 0:
        # a real raise, not assert (`python -O` strips asserts): a
        # non-dividing block count silently truncates the fingerprint
        # and the pigeonhole guarantee (hamming<=k pairs share a block)
        # no longer holds — pairs would be MISSED, not just slower
        raise ValueError(
            f"n_blocks={n_blocks} must divide 32 (the simhash width) "
            "for the pigeonhole block split to be exhaustive"
        )
    width = 32 // n_blocks
    mask = (1 << width) - 1
    # Fingerprint dedup FIRST (the scale move this corpus shape forces):
    # word-salad / boilerplate corpora collapse many docs onto one
    # fingerprint (sf0.1 testdata: 5000 docs -> 2255 distinct simhashes),
    # so bucketing doc rows makes every downstream pair cost quadratic in
    # the collision multiplicity — measured 15.3M bucket candidates at
    # sf0.1 vs 1.4M when blocks key DISTINCT fingerprints.  Doc ids ride
    # along as a sorted array per fingerprint; doc-level pairs only
    # materialize at the very end, where they are the actual output.
    grp = simhash(docs).groupBy("simhash").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    # hamming-0 pairs: ordered doc pairs within one fingerprint group
    # (chained-generate, same shape as _group_pairs' pair explosion)
    within = (
        _spread_explode_input(grp.where(F.size("ids") >= 2))
        .select("ids", F.posexplode("ids").alias("i", "a"))
        .select(
            F.col("a").alias("doc_a"),
            F.explode(
                F.expr("slice(ids, i + 2, size(ids) - i - 1)")
            ).alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    blocks = grp.select(
        "simhash",
        "ids",
        F.posexplode(
            F.array(
                *[F.expr(f"(simhash >> {width * b}) & {mask}") for b in range(n_blocks)]
            )
        ).alias("blk", "key"),
    )
    # distinct-fingerprint candidates: two fps never collide at hamming 0,
    # and a doc pair maps to exactly one fp pair, so after the fp-level
    # dedup the doc-pair expansion is duplicate-free by construction (no
    # doc-level distinct needed — that distinct was the old plan's
    # largest shuffle).
    fp_pairs = (
        _group_pairs(blocks, ["blk", "key"], ["simhash", "ids"])
        .select(
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
            F.col("x.ids").alias("ia"),
            F.col("y.ids").alias("ib"),
            F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sa", "sb"])
    )
    cross = (
        _spread_explode_input(fp_pairs)
        .select(F.explode("ia").alias("a"), "ib", "hamming")
        .select("a", F.explode("ib").alias("b"), "hamming")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
    )
    return within.unionByName(cross)


def simhash_complete_oracle(max_hamming: int = 3, n_blocks: int = 4) -> str:
    width = 32 // n_blocks
    mask = (1 << width) - 1
    return f"""WITH {_SIMHASH_CTE},
blocks AS (
  SELECT doc_id, simhash, b.b AS blk,
         (simhash >> ({width} * b.b)) & {mask} AS key
  FROM sh32, (SELECT unnest(generate_series(0, {n_blocks - 1})) AS b) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocks a JOIN blocks b
  ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


_SIMHASH_CTE = """\
tokd AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
bits AS (
  SELECT doc_id, p.p,
         CASE WHEN SUM(CASE WHEN substr(md5(tok), p.p, 1) IN
                   ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0
              THEN 1 ELSE 0 END AS bit
  FROM tokd, (SELECT unnest(generate_series(1, 32)) AS p) p
  GROUP BY doc_id, p.p
),
sh32 AS (
  SELECT doc_id, SUM(bit * (1::BIGINT << (p - 1)))::BIGINT AS simhash
  FROM bits GROUP BY doc_id
)"""

SIMHASH_ORACLE = f"WITH {_SIMHASH_CTE}\nSELECT doc_id, simhash FROM sh32"


def simhash_pairs_oracle(max_hamming: int = 6) -> str:
    return f"""WITH {_SIMHASH_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh32 a JOIN sh32 b
  ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (completes the dedup family: exact, MinHash+LSH,
# SimHash, n-gram Jaccard, embedding-cosine)
# ---------------------------------------------------------------------------


def embedding_near_dups(
    emb: DataFrame,
    bits: int = 4,
    min_cos_num: int = 3,
    min_cos_den: int = 10,
) -> DataFrame:
    """Semantic near-duplicates over an embedding column: a document is a
    duplicate if a lower-id document in the same sign-LSH bucket has
    cosine >= num/den; the lowest such id is its canonical.

    `(doc_id, canonical_id, cos)` — cos is the similarity to the chosen
    canonical.  Single-hop assignment (not transitive closure): chains
    a<-b<-c keep b and c pointing at their own lowest neighbor; full
    connected components would need an iterative join (documented scale
    path, same candidate-generation plan).

    Plan shape at 100 TB: the sign-LSH bucket equi-join (see
    similarity.lsh_near_pairs) replaces the O(n^2) cross product with a
    shuffle on a small integer key; the canonical pick is one more
    hash-aggregate keyed by doc_id.
    """
    from cloudpelican_lsd_spark.operators.similarity import lsh_near_pairs

    pairs = lsh_near_pairs(
        emb, bits=bits, min_cos_num=min_cos_num, min_cos_den=min_cos_den
    )
    return (
        pairs.groupBy(F.col("vec_b").alias("doc_id"))
        .agg(
            F.min("vec_a").alias("canonical_id"),
            F.min_by("cos", "vec_a").alias("cos"),
        )
        .select("doc_id", "canonical_id", "cos")
    )


def embedding_near_dups_oracle(
    bits: int = 4, min_cos_num: int = 3, min_cos_den: int = 10
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
SELECT vec_b AS doc_id,
       MIN(vec_a) AS canonical_id,
       arg_min(cos, vec_a) AS cos
FROM pairs
WHERE cos * {min_cos_den} >= {min_cos_num}
GROUP BY vec_b"""


# ---------------------------------------------------------------------------
# duplicate-cluster formation (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iter: int = 25, method: str = "label"
) -> DataFrame:
    """`(doc_id, cluster_id)` — connected components of the near-dup pair
    graph; ``cluster_id`` is the smallest doc_id reachable from each node.

    This is the step that turns candidate *pairs* (LSH/simhash/Jaccard
    output) into duplicate *groups*, so a pipeline can keep exactly one
    canonical document per cluster (``doc_id == cluster_id``) — pairwise
    removal alone over-deletes chains (a~b, b~c would drop both b and c
    even when a~c was never observed).

    Two physical strategies behind one API:

    ``method="label"`` (default): iterative min-label propagation.  Each
    round is one hash-aggregate shuffle of compact `(node BIGINT, lbl
    BIGINT)` rows — the network never sees text.  Labels only ever
    decrease, so convergence is an unchanged SUM(lbl) (no expensive
    join-compare), and rounds ≈ graph diameter — duplicate clusters in
    practice are shallow star/clique shapes (2-4 rounds).  Raises
    RuntimeError if the graph has not reached its fixed point within
    ``max_iter`` propagation rounds (one extra no-op round is always
    allowed to *witness* stability, so a diameter-``max_iter`` chain
    succeeds) instead of silently returning half-propagated labels.

    ``method="star"``: the alternating large-star/small-star algorithm
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14), which contracts the EDGE set instead of propagating labels
    and converges in O(log² n) rounds regardless of diameter — the
    fallback for adversarial long-chain dup graphs (boilerplate chains:
    doc i near-dups doc i+1 for thousands of i), where min-label would
    need diameter rounds.  Same per-round plan shape: one groupBy-min
    shuffle over `(BIGINT, BIGINT)` edges.

    ``localCheckpoint`` truncates lineage every round — an iterative plan
    otherwise doubles in depth per iteration and Catalyst re-analysis
    starts to dominate (classic iterative-Spark pitfall).  At cluster
    scale, prefer ``checkpoint`` on reliable storage so recomputation
    after executor loss does not replay every round.
    """
    if method == "star":
        labels, _ = _cc_star_rounds(pairs, max_iter)
        return labels
    if method != "label":
        raise ValueError(f"connected_components: unknown method {method!r}")
    # r8 (same fix as _cc_star_rounds): materialize the compact pair set
    # ONCE before fanning it into the edge union.  The union's two
    # branches each embed the full candidate-pair chain, and the
    # edges.persist() below materializes that union INSIDE an
    # InMemoryRelation build, where AQE (and its runtime exchange reuse)
    # is disabled — measured at sf0.1 on the winnowing pair graph, the
    # fingerprint chain ran THREE times in the cache-build job (~52 s of
    # the build's 85 s task time; the static ReuseExchange rule does not
    # unify the branches once column pruning differentiates their
    # exchanges).  A compact (doc_a, doc_b) localCheckpoint computes the
    # chain exactly once at any scale; swap to reliable checkpoint() on
    # a real cluster (executor loss forces recompute, never wrong
    # results).
    pairs = pairs.select("doc_a", "doc_b").transform(materialize)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    from pyspark.sql import Observation

    prev_sum = object()  # sentinel: never equal on first comparison
    converged = False
    # max_iter bounds the propagations needed to REACH the fixed point;
    # unchanged-sum detection needs one further no-op propagation to
    # WITNESS stability, so a graph that converges exactly on round
    # max_iter is not spuriously rejected: max_iter + 1 propagations,
    # max_iter + 2 observations
    for i in range(max_iter + 2):
        # the convergence metric rides the checkpoint's own action via
        # observe() — one job per round instead of checkpoint + agg
        obs = Observation(f"cc_round_{i}")
        labels = labels.observe(obs, F.sum("lbl").alias("s")).transform(materialize)
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
        if i > max_iter:
            break  # budget + verification spent without reaching stability
        propagated = labels.join(
            edges, labels["node"] == edges["src"], "inner"
        ).select(F.col("dst").alias("node"), "lbl")
        labels = (
            labels.unionByName(propagated)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"within max_iter={max_iter} rounds — the pair graph has a "
            f"diameter of at least that many hops (long duplicate chain). "
            f"Re-run with method='star' (O(log² n) rounds) or a larger "
            f"max_iter."
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _cc_canonical_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical form: (a, b) with a < b, no
    self-loops, no duplicates."""
    return (
        e.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_star_rounds(
    pairs: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star CC (Kiveris et al., SoCC'14) —
    returns ``(labels, rounds_used)``; labels match `connected_components`
    output exactly (`doc_id`, `cluster_id` = component-min doc_id).

    Each round rewrites the edge set:

    - **large-star** (keyed on every node u over its full neighborhood):
      connect every neighbor v > u to m = min(Γ(u) ∪ {u}) — strictly
      larger nodes hop to the locally smallest node;
    - **small-star** (keyed on the larger endpoint, so Γ(u) is u's
      smaller neighbors): connect every smaller neighbor and u itself to
      m = min(Γ(u) ∪ {u}).

    The edge set monotonically flattens into one star per component
    centered at the component minimum in O(log² n) rounds independent of
    graph diameter — the long-chain regime where min-label propagation
    (rounds = diameter) degrades.  Convergence is an unchanged
    (count, xxhash64-sum) of the canonical edge set, observed on the same
    localCheckpoint action that truncates per-round lineage; each phase
    is one groupBy-min shuffle + one join over `(BIGINT, BIGINT)` rows.
    """
    from pyspark.sql import Observation

    # r8 (guide §2.4/§5): materialize the compact (BIGINT, BIGINT) pair
    # set ONCE.  `pairs` feeds both the round-0 edge set and the FINAL
    # labels job (via `nodes`) — separate actions, so runtime exchange
    # reuse never applies and the caller's whole candidate-pair chain
    # (minhash/winnowing over the corpus) was computed twice.  The label
    # method's edges.persist() already prevents this; this is the star
    # path's equivalent.  Interleaved A/B at sf0.1
    # (dedup_cluster_sizes_star): 5.18 -> 3.43 s median, 4/4 pairwise.
    # localCheckpoint locally; reliable checkpoint() on a real cluster.
    pairs = pairs.select("doc_a", "doc_b").transform(materialize)
    edges = _cc_canonical_edges(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    # all input nodes, kept aside: star contraction removes nodes from the
    # edge set as they collapse into their center (and isolated self-pair
    # nodes never enter it), but every input doc needs a label row
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    prev_sig = object()
    rounds = 0
    converged = False
    # max_iter bounds the contraction rounds to REACH the star fixed
    # point; one further no-op round WITNESSES stability (see
    # connected_components) — a graph that flattens exactly on round
    # max_iter must not raise
    for i in range(max_iter + 2):
        obs = Observation(f"cc_star_round_{i}")
        edges = edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # DECIMAL(38,0): a BIGINT sum of ~2^63-magnitude hashes
            # overflows under ANSI mode after a handful of edges
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).transform(materialize)
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
        if i > max_iter:
            break  # budget + verification spent without reaching stability
        rounds = i + 1
        # -- large-star: full symmetric neighborhood ------------------------
        sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges = _cc_canonical_edges(large).transform(materialize)
        # -- small-star: keyed on the larger endpoint (v < u by canon) ------
        sym_small = edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins_small = sym_small.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            sym_small.join(mins_small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(
                mins_small.select(F.col("u"), F.col("m").alias("v"))
            )
        )
        edges = _cc_canonical_edges(small)
    if not converged:
        raise RuntimeError(
            f"connected_components(method='star'): edge set still changing "
            f"after max_iter={max_iter} alternation rounds — raise max_iter "
            f"(O(log² n) rounds suffice; 25 covers any realistic corpus)."
        )
    # at convergence every component is a star centered at its minimum:
    # each canonical edge is (center, member).  Members label to the
    # center; centers (and isolated nodes) label to themselves.
    labels = (
        nodes.join(
            edges.select(F.col("b").alias("node"), F.col("a").alias("ctr")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.coalesce(F.min("ctr"), F.first("node")).alias("lbl"))
    )
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
        ),
        rounds,
    )


def connected_components_oracle(pairs_sql: str) -> str:
    """Recursive-CTE oracle: min-label reachability over ``pairs_sql``
    (a relation with columns ``doc_a < doc_b``).  The ``r.lbl < e.dst``
    guard prunes propagation to labels that can still win the MIN —
    the component minimum always satisfies it, so the result is exact."""
    return f"""cpairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cpairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl
  FROM reach r JOIN edges e ON r.node = e.src
  WHERE r.lbl < e.dst
)"""


def minhash_estimate_vs_true(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    max_group: int | None = None,
) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    Jaccard estimate's raw agreement count (`n_agree` of ``num_hashes``)
    next to the TRUE shingle-set overlap (`inter_n`, `union_n`).

    This is the measurement harness for tuning (num_hashes,
    rows_per_band) against a corpus: est ≈ n_agree/num_hashes vs truth
    inter/union, integer-exact so the oracle hash is stable.

    Scale shape: signatures and shingle sets are per-doc tables (built
    once, one shuffle each); the pair table joins them by doc key —
    candidates ≪ corpus so these joins broadcast under AQE.  The true
    intersection uses array_intersect on the two collect_set arrays:
    per-pair work is |set_a|+|set_b|, never a shingle×shingle join.
    """
    mins = minhash_signatures(docs, num_hashes, n)
    bands = bands_from_signatures(mins, num_hashes, rows_per_band)
    pairs = (
        _group_pairs(bands, ["band", "sig"], ["doc_id"], max_group=max_group)
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = (
        shingle_rows(docs, n)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sset"))
    )
    a_sig = mins.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{s}").alias(f"a{s}") for s in range(num_hashes)],
    )
    b_sig = mins.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{s}").alias(f"b{s}") for s in range(num_hashes)],
    )
    a_set = sets.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("sa"))
    b_set = sets.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("sb"))
    n_agree = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(num_hashes)
    )
    inter_n = F.size(F.array_intersect("sa", "sb"))
    return (
        pairs.join(a_sig, "doc_a")
        .join(b_sig, "doc_b")
        .join(a_set, "doc_a")
        .join(b_set, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_agree.cast("long").alias("n_agree"),
            inter_n.cast("long").alias("inter_n"),
            (F.size("sa") + F.size("sb") - inter_n).cast("long").alias("union_n"),
        )
    )


def minhash_estimate_oracle(num_hashes: int = 12) -> str:
    """DuckDB twin of minhash_estimate_vs_true — expects the CTEs of
    ``minhash_oracle_cte`` (sh/hashed/seeds/mh/bands) in scope."""
    return f"""cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
agree AS (
  SELECT c.doc_a, c.doc_b,
         SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_agree
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.doc_a
  JOIN mh mb ON mb.doc_id = c.doc_b AND mb.seed = ma.seed
  GROUP BY c.doc_a, c.doc_b
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM dsh GROUP BY doc_id),
inters AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter_n
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT g.doc_a, g.doc_b, CAST(g.n_agree AS BIGINT) AS n_agree,
       CAST(COALESCE(i.inter_n, 0) AS BIGINT) AS inter_n,
       CAST(sa.nsh + sb.nsh - COALESCE(i.inter_n, 0) AS BIGINT) AS union_n
FROM agree g
LEFT JOIN inters i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
JOIN sizes sa ON sa.doc_id = g.doc_a
JOIN sizes sb ON sb.doc_id = g.doc_b"""


DEFAULT_SWEEP_THRESHOLDS = (50, 60, 70, 80, 90)


def threshold_sweep(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    thresholds: tuple[int, ...] = DEFAULT_SWEEP_THRESHOLDS,
) -> DataFrame:
    """`(thr_pct, n_pairs_true, n_pairs_est, n_docs_flagged)` — the
    dedup POLICY CURVE: for each Jaccard threshold, how many candidate
    pairs qualify by TRUE shingle overlap, how many the MinHash
    estimate would pass (the operational decision at scale, where true
    Jaccard is unaffordable), and how many documents the keep-lowest-id
    policy would flag for removal.  The gap between the two pair counts
    IS the estimator's policy error at that cut — the number a release
    engineer reads before choosing the production threshold.

    Exactness: both qualifying tests are integer cross-multiplies
    (inter*100 >= thr*union; agree*100 >= thr*num_hashes) — no float
    threshold boundary.  Degenerate pairs with an empty shingle union
    are excluded from the true test explicitly (0 >= 0 would otherwise
    pass every cut).

    Scale shape: one `minhash_estimate_vs_true` pass (candidates ≪
    corpus) exploded by the constant threshold list (|pairs| × 5 rows),
    then a single 5-row aggregation — the sweep adds no scan, no join,
    and no new shuffle beyond the final tiny aggregate."""
    est = minhash_estimate_vs_true(docs, num_hashes, rows_per_band, n)
    sw = est.withColumn(
        "thr_pct", F.explode(F.array(*[F.lit(t) for t in thresholds]))
    )
    true_pass = (F.col("union_n") > 0) & (
        F.col("inter_n") * 100 >= F.col("thr_pct") * F.col("union_n")
    )
    est_pass = F.col("n_agree") * 100 >= F.col("thr_pct") * F.lit(num_hashes)
    return sw.groupBy(F.col("thr_pct").cast("long").alias("thr_pct")).agg(
        F.sum(true_pass.cast("long")).alias("n_pairs_true"),
        F.sum(est_pass.cast("long")).alias("n_pairs_est"),
        F.countDistinct(F.when(true_pass, F.col("doc_b"))).alias(
            "n_docs_flagged"
        ),
    )


def threshold_sweep_oracle(
    num_hashes: int = 12,
    thresholds: tuple[int, ...] = DEFAULT_SWEEP_THRESHOLDS,
) -> str:
    """DuckDB twin of threshold_sweep — expects the CTEs of
    ``minhash_oracle_cte`` in scope; nests ``minhash_estimate_oracle``
    as a subquery (outer CTEs stay visible in the nested WITH)."""
    tlist = ", ".join(str(t) for t in thresholds)
    return f"""est AS (
  WITH {minhash_estimate_oracle(num_hashes)}
),
thr AS (SELECT UNNEST([{tlist}]) AS thr_pct)
SELECT CAST(t.thr_pct AS BIGINT) AS thr_pct,
       COALESCE(SUM(CASE WHEN e.union_n > 0
                          AND e.inter_n * 100 >= t.thr_pct * e.union_n
                     THEN 1 ELSE 0 END), 0)::BIGINT AS n_pairs_true,
       COALESCE(SUM(CASE WHEN e.n_agree * 100 >= t.thr_pct * {num_hashes}
                     THEN 1 ELSE 0 END), 0)::BIGINT AS n_pairs_est,
       COUNT(DISTINCT CASE WHEN e.union_n > 0
                            AND e.inter_n * 100 >= t.thr_pct * e.union_n
                      THEN e.doc_b END)::BIGINT AS n_docs_flagged
FROM thr t CROSS JOIN est e
GROUP BY t.thr_pct"""


# ---------------------------------------------------------------------------
# candidate-pair verification by edit distance
# ---------------------------------------------------------------------------


def pair_edit_distance(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    prefix: int = 64,
) -> DataFrame:
    """`(doc_a, doc_b, lev, sim)` — LSH candidate pairs scored by
    Levenshtein distance on the first `prefix` chars, the cheap
    "verify stage" of the near-dup pipeline (sketches propose, edit
    distance confirms).

    The prefix cap is the scale contract: Levenshtein is O(len²) per
    pair, so an unbounded-text version would make one long outlier doc
    quadratically dominate its task.  With the cap each pair costs
    O(prefix²) = constant, and the candidate set (not the corpus) drives
    total work.  Text lookup is two doc_id-keyed hash joins of the pair
    list against the `prefix`-char projection — the full text column is
    pruned at the scan.  `sim = 1 - lev/max(len)` is a small-int division
    rounded to 6 decimals (hash-stable)."""
    t = docs.select(
        "doc_id", F.substring("text", 1, prefix).alias("t")
    )
    pairs = lsh_candidate_pairs(docs, num_hashes, rows_per_band, n)
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("lev"),
            F.round(
                1
                - F.levenshtein("ta", "tb")
                / F.greatest(F.length("ta"), F.length("tb")),
                6,
            ).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level (fragment) dedup via shared content-defined chunks
# ---------------------------------------------------------------------------


def cdc_overlap_pairs(
    docs: DataFrame,
    window: int = 16,
    divisor: int = 64,
    min_shared: int = 2,
    max_df: int = 10,
) -> DataFrame:
    """`(doc_a, doc_b, shared_chunks)` — document pairs sharing >=
    ``min_shared`` distinct content-defined chunks (textstats.cdc_chunks).

    This is SUBSTRING-level dedup: a document that embeds a long passage
    of another (quotes, mirrored sections, partial scrapes) shares the
    chunks of that passage even though whole-document MinHash similarity
    is low — CDC boundaries survive insert/delete edits around the
    copied region.  ``max_df`` drops ubiquitous chunks (boilerplate)
    before pair generation, exactly the n-gram inverted-index guard.

    100 TB shape: chunking is per-row codegen; the pair generation is the
    same one-shuffle collect-set-per-bucket used by every candidate
    family here (`_group_pairs`) keyed on the 32-char chunk hash — no
    self-join, no raw text in the shuffle."""
    from cloudpelican_lsd_spark.operators.textstats import cdc_chunks

    ch = (
        cdc_chunks(docs, window=window, divisor=divisor)
        .select("doc_id", "chunk_md5")
        .distinct()
    )
    pairs = _group_pairs(ch, ["chunk_md5"], ["doc_id"], max_group=max_df)
    return (
        pairs.groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
        .where(F.col("shared_chunks") >= min_shared)
    )


def cdc_overlap_oracle(
    planted_cte: str,
    window: int = 16,
    divisor: int = 64,
    min_shared: int = 2,
    max_df: int = 10,
) -> str:
    """DuckDB twin over the planted-duplicates corpus: the chunk CTE is
    textstats.cdc_chunks_oracle retargeted at docs_planted."""
    from cloudpelican_lsd_spark.operators.textstats import cdc_chunks_oracle

    chunks_sql = cdc_chunks_oracle(window, divisor).replace(
        "FROM documents", "FROM docs_planted"
    )
    return f"""WITH {planted_cte},
chunked AS ({chunks_sql}),
ch AS (SELECT DISTINCT doc_id, chunk_md5 FROM chunked),
ok AS (SELECT chunk_md5 FROM ch GROUP BY chunk_md5
       HAVING COUNT(*) <= {max_df}),
chf AS (SELECT ch.doc_id, ch.chunk_md5 FROM ch JOIN ok USING (chunk_md5))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS shared_chunks
FROM chf a JOIN chf b ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}"""


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — token-gram granularity)
# ---------------------------------------------------------------------------


def _hot_spans(docs: DataFrame, w: int, min_df: int) -> DataFrame:
    """`(doc_id, isl, s, e)` — merged intervals of duplicated ``w``-token
    windows: THE single source of the hot-span detection chain (gram
    build, window-count hot test with the collision-proof ``(gh, g)``
    key, running-max island merge), consumed by both the stats report
    and the clean rebuild so the two can never disagree on what counts
    as a duplicated span."""
    from pyspark.sql import Window

    # _spread (guide §2.5): the w-token window build (transform+slice+
    # array_join per position) runs on the scan stage — single-task on a
    # one-split local scan (0.7 s at sf0.1); no-op at scale.
    toks = _spread(docs).select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"IF(size(t) >= {w},"
                f" transform(sequence(1, size(t) - {w} + 1),"
                f"   i -> array_join(slice(t, i, {w}), ' ')),"
                f" array())"
            )
        ).alias("p0", "g"),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("p"), F.xxhash64("g").alias("gh"), "g"
    )
    hot_occ = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gh", "g"))
    ).where(F.col("df") >= min_df).select("doc_id", "p")
    ordered = Window.partitionBy("doc_id").orderBy("p")
    prev_max = F.max(F.col("p") + (w - 1)).over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hot_occ.withColumn(
        "brk", (prev_max.isNull() | (F.col("p") > prev_max)).cast("long")
    ).withColumn(
        "isl",
        F.sum("brk").over(ordered.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy("doc_id", "isl").agg(
        F.min("p").alias("s"), (F.max("p") + (w - 1)).alias("e")
    )


def _spans_cte(w: int, min_df: int) -> str:
    """DuckDB twin of :func:`_hot_spans`: CTE chain ending in
    ``spans (doc_id, isl, s, e)``; expects a ``toks (doc_id, t)`` CTE
    upstream."""
    return f"""grams AS (
  SELECT doc_id, i AS p, array_to_string(t[i:i+{w - 1}], ' ') AS g
  FROM toks, LATERAL unnest(generate_series(1, len(t) - {w} + 1)) u(i)
  WHERE len(t) >= {w}
),
hot_occ AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, p, COUNT(*) OVER (PARTITION BY g) AS df FROM grams)
  WHERE df >= {min_df}
),
w1 AS (SELECT doc_id, p,
              MAX(p + {w - 1}) OVER (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       FROM hot_occ),
w3 AS (SELECT doc_id, p,
              SUM(CASE WHEN pm IS NULL OR p > pm THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS isl
       FROM w1),
spans AS (SELECT doc_id, isl, MIN(p) AS s, MAX(p) + {w - 1} AS e
          FROM w3 GROUP BY 1, 2)"""


def substring_span_stats(
    docs: DataFrame, w: int = 8, min_df: int = 2
) -> DataFrame:
    """`(doc_id, n_tokens, n_removed, n_kept)` — per-document token
    counts of EXACT duplicated substring spans: every ``w``-token window
    whose text occurs >= ``min_df`` times corpus-wide (within-doc
    repeats count, as in the public ExactSubstr dedup) marks its span
    for removal; overlapping spans merge, and ``n_removed`` is the size
    of the union of marked intervals.

    This is the token-granular face of the suffix-array ExactSubstr
    pipeline: candidate generation by fixed-width windows instead of
    suffix arrays trades the minimum-match-length guarantee (any
    duplicate >= w tokens is found; shorter ones are not) for a pure
    relational plan.

    100 TB shape: ONE pipeline, ZERO joins on the hot path — the
    corpus-wide occurrence count is a COUNT window over
    ``(xxhash64(gram), gram)`` (hash first for a fixed-width shuffle
    prefix, raw text second so collisions cannot conflate counts — the
    line_dedup lesson), interval union is two doc-keyed windows
    (running-max end + island cumsum).  Only the final per-doc token
    count joins back to the (column-pruned) docs scan so gram-less
    short docs report zero.
    """
    spans = _hot_spans(docs, w, min_df)
    removed = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("n_removed")
    )
    base = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    return base.join(removed, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        (F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )


def substring_span_oracle(w: int = 8, min_df: int = 2) -> str:
    """DuckDB twin of :func:`substring_span_stats` (same break rule)."""
    return f"""WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks),
{_spans_cte(w, min_df)},
rem AS (SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS n_removed
        FROM spans GROUP BY 1)
SELECT b.doc_id, b.n_tokens,
       COALESCE(r.n_removed, 0)::BIGINT AS n_removed,
       (b.n_tokens - COALESCE(r.n_removed, 0))::BIGINT AS n_kept
FROM base b LEFT JOIN rem r USING (doc_id)"""


def substring_span_clean(
    docs: DataFrame, w: int = 8, min_df: int = 2
) -> DataFrame:
    """`(doc_id, clean_text, n_kept)` — the corpus with every duplicated
    substring span REMOVED (the artifact ExactSubstr dedup actually
    ships): tokens covered by the merged hot intervals of
    :func:`substring_span_stats` are dropped and the survivors rejoin in
    order; fully-covered docs drop out (same convention as line_dedup).

    The per-doc interval list is collected into an array column (spans
    per doc are few — bounded by n_tokens / w) and the removal is ONE
    filter-with-index higher-order function over the token array — no
    token-level explode/range-join on the rebuild side.
    """
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    ivs = (
        _hot_spans(docs, w, min_df)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    joined = toks.join(ivs, "doc_id", "left").withColumn(
        "ivs", F.coalesce(F.col("ivs"), F.expr("array()"))
    )
    kept = joined.select(
        "doc_id",
        F.expr(
            "filter(t, (tok, i) -> NOT exists(ivs,"
            " iv -> i + 1 >= iv.s AND i + 1 <= iv.e))"
        ).alias("kt"),
    )
    return kept.where(F.size("kt") >= 1).select(
        "doc_id",
        F.array_join("kt", " ").alias("clean_text"),
        F.size("kt").cast("long").alias("n_kept"),
    )


def substring_clean_oracle(w: int = 8, min_df: int = 2) -> str:
    """DuckDB twin of :func:`substring_span_clean`."""
    return f"""WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
{_spans_cte(w, min_df)},
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, LATERAL unnest(generate_series(1, len(t))) u(i)
),
keep AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tp.doc_id
                      AND tp.pos BETWEEN sp.s AND sp.e)
)
SELECT doc_id,
       string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       COUNT(*)::BIGINT AS n_kept
FROM keep GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# asymmetric containment pairs — "doc A is inside doc B" dedup
# ---------------------------------------------------------------------------


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """`(doc_a, doc_b, inter_cnt, sz_a, sz_b, cont_a_ppm, cont_b_ppm,
    relation)` — pairs where the shingle CONTAINMENT of either side,
    |S(a)∩S(b)| / |S(side)|, reaches num/den.  Containment is the
    asymmetric twin of Jaccard: a short document fully quoted inside a
    much longer one scores containment≈1 but Jaccard≈|S(a)|/|S(b)|≈0, so
    a Jaccard-threshold dedup never sees it.  This is the snippet-reuse /
    quote-extraction detector (Broder's original resemblance-vs-
    containment split) a training corpus needs next to `ngram_jaccard`.

    Same physical shape as :func:`ngram_jaccard_pairs` — ONE shingle
    pipeline, per-doc xxhash64 set, inverted-index `_group_pairs` (no
    self-join), `max_df` hot-shingle skew guard — so the incremental cost
    over a Jaccard pass is zero; only the final predicate differs.  The
    decision is exact integer cross-multiplication (`inter*den >=
    min(sz)*num`); the reported ppm ratios are integer floor-division,
    hash-stable across engines.
    """
    agg = pair_intersections(doc_shingle_hash_rows(docs, n), max_df=max_df)
    cont_a = F.col("inter_cnt") * threshold_den >= F.col("sz_a") * threshold_num
    cont_b = F.col("inter_cnt") * threshold_den >= F.col("sz_b") * threshold_num
    return (
        agg.where(cont_a | cont_b)
        .select(
            "doc_a",
            "doc_b",
            "inter_cnt",
            "sz_a",
            "sz_b",
            F.expr("CAST(inter_cnt * 1000000 DIV sz_a AS BIGINT)").alias(
                "cont_a_ppm"
            ),
            F.expr("CAST(inter_cnt * 1000000 DIV sz_b AS BIGINT)").alias(
                "cont_b_ppm"
            ),
            F.when(cont_a & cont_b, F.lit("mutual"))
            .when(cont_a, F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("relation"),
        )
    )


def containment_oracle(
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_df: int | None = None,
) -> str:
    df_filter = (
        f"""
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= {max_df}) ok ON ok.shingle = a.shingle"""
        if max_df is not None
        else ""
    )
    return f"""WITH {shingles_oracle_cte(n)},
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS inter_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id{df_filter}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_cnt,
       sa.sz AS sz_a, sb.sz AS sz_b,
       (inter_cnt * 1000000 // sa.sz)::BIGINT AS cont_a_ppm,
       (inter_cnt * 1000000 // sb.sz)::BIGINT AS cont_b_ppm,
       CASE WHEN inter_cnt * {threshold_den} >= sa.sz * {threshold_num}
             AND inter_cnt * {threshold_den} >= sb.sz * {threshold_num}
            THEN 'mutual'
            WHEN inter_cnt * {threshold_den} >= sa.sz * {threshold_num}
            THEN 'a_in_b' ELSE 'b_in_a' END AS relation
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_cnt * {threshold_den} >= sa.sz * {threshold_num}
   OR inter_cnt * {threshold_den} >= sb.sz * {threshold_num}"""


# ---------------------------------------------------------------------------
# dedup method agreement — MinHash-LSH vs SimHash candidate recall audit
# ---------------------------------------------------------------------------


def method_agreement(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    max_hamming: int = 6,
) -> DataFrame:
    """`(status, n_pairs)` with status ∈ {'both', 'minhash_only',
    'simhash_only'} — the agreement audit between the two sub-linear
    near-dup detectors: MinHash-LSH band candidates (set-overlap signal)
    vs SimHash prefix-bucket pairs (weighted-token signal).  The
    disagreement rows are the interesting ones — pairs only one method
    can see — and their counts are what you check before trusting a
    single method as THE dedup pass at 100 TB.

    Pure composition of the two existing bucketed pair generators (each
    one shuffle, no cross products) + one full-outer equi-join on the
    pair key + a 3-row aggregate.
    """
    mh = lsh_candidate_pairs(docs, num_hashes, rows_per_band, n).select(
        "doc_a", "doc_b", F.lit(True).alias("in_mh")
    )
    sh = simhash_near_pairs(docs, max_hamming=max_hamming).select(
        "doc_a", "doc_b", F.lit(True).alias("in_sh")
    )
    return (
        mh.join(sh, ["doc_a", "doc_b"], "full_outer")
        .select(
            F.when(F.col("in_mh") & F.col("in_sh"), F.lit("both"))
            .when(F.col("in_mh").isNotNull(), F.lit("minhash_only"))
            .otherwise(F.lit("simhash_only"))
            .alias("status")
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def method_agreement_oracle(
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    max_hamming: int = 6,
    base_table: str = "documents",
) -> str:
    sim_cte = _SIMHASH_CTE.replace("FROM documents", f"FROM {base_table}")
    return f"""{minhash_oracle_cte(num_hashes, rows_per_band, n, base_table)},
{sim_cte},
ag_mh AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ag_sh AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh32 a JOIN sh32 b
    ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
)
SELECT CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
            WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
            ELSE 'simhash_only' END AS status,
       COUNT(*)::BIGINT AS n_pairs
FROM ag_mh m FULL OUTER JOIN ag_sh s
  ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
GROUP BY 1"""
