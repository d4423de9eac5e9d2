"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

North-star extensions for training-data pipelines.  Every operator is
per-row column math (split / filter / aggregate higher-order functions) —
zero shuffle, full scan parallelism, and exactly reproducible in the
DuckDB oracles.  Ratios are engineered to avoid float round-boundary
ambiguity: integer counts are exposed alongside, and divisions use doubles
whose 6-decimal rounding can't straddle engine rounding modes for the
token-count ranges in play.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloudpelican_lsd_spark.checkpoint import materialize

#: tiny deterministic English stopword list for the n-gram/stopword
#: language heuristic
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

_PUNCT_RE = "[^.,!?;:]"


def keyed_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition by ``cols`` with an EXPLICIT partition count
    (``spark.sql.shuffle.partitions`` — driver-sized on a cluster, the
    local default here).  A plain ``repartition(col)`` is
    REPARTITION_BY_COL, which AQE coalesces by post-shuffle BYTES; the
    callers here feed row-AMPLIFYING explodes (per-position md5,
    n-gram streams) whose work AQE undercounts by the amplification
    factor — measured at sf0.1: the compact doc exchange coalesced to
    one partition and serialized ~4M md5 calls onto one core (the same
    failure class ``dedup._spread_explode_input`` documents for
    round-robin inputs).  An explicit-count exchange is exempt from
    AQE coalescing, so the explode work keeps the configured
    parallelism at every scale."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def stop_count_expr(text_col: str = "text"):
    """Column: number of whitespace tokens of lower(text) that are English
    stopwords — the shared building block of lang_id / quality_score /
    corpus_clean (one definition, one oracle twin below)."""
    stop_arr = "array(" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + ")"
    return F.expr(
        f"size(filter(split(lower({text_col}), ' '), t -> array_contains({stop_arr}, t)))"
    )


def stop_count_sql(text_col: str = "text") -> str:
    """DuckDB twin of :func:`stop_count_expr`."""
    stop_list = "[" + ",".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return (
        f"len(list_filter(string_split(lower({text_col}), ' '), "
        f"t -> list_contains({stop_list}, t)))"
    )


def token_count(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_tokens, n_chars_obs)` — whitespace tokenization."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
    )


TOKEN_COUNT_ORACLE = """\
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       length(text)::BIGINT AS n_chars_obs
FROM documents"""


#: BPE-ish pre-tokenizer regex: letter runs, digit runs, single punctuation
#: marks — the GPT-2-style pre-split shape, restricted to constructs whose
#: semantics are identical in Java regex (Spark) and RE2 (DuckDB).  The
#: whitespace set is spelled out because the engines' \s differ on
#: vertical tab (\x0B is whitespace to Java, not to RE2).
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def bpe_token_count(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_ws_tokens, n_bpe_tokens)` — whitespace count next to a
    BPE-ish regex pre-tokenizer count (letter runs / digit runs / single
    punctuation), the token-budget estimate a training pipeline reports."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        # lit() pattern, not an F.expr SQL literal: the SQL parser would
        # process the \s escape and silently change the character class
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


BPE_TOKEN_COUNT_ORACLE = f"""\
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}'))::BIGINT AS n_bpe_tokens
FROM documents"""


def quality_score(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_tokens, stop_cnt, punct_cnt, avg_token_len, stop_ratio)`
    — length/punctuation/stopword quality signals."""
    toks = F.split(F.lower(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        stop_count_expr().cast("bigint").alias("stop_cnt"),
        F.length(F.regexp_replace(F.col("text"), _PUNCT_RE, ""))
        .cast("long")
        .alias("punct_cnt"),
        F.round(
            (F.length("text") - F.size(toks) + 1) / F.size(toks), 6
        ).alias("avg_token_len"),
        F.round(stop_count_expr() / F.size(toks), 6).alias("stop_ratio"),
    )


def quality_score_oracle() -> str:
    return f"""SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       {stop_count_sql()}::BIGINT AS stop_cnt,
       length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))::BIGINT AS punct_cnt,
       ROUND((length(text) - len(string_split(text, ' ')) + 1)
             / len(string_split(text, ' ')), 6) AS avg_token_len,
       ROUND({stop_count_sql()}
             / len(string_split(text, ' ')), 6) AS stop_ratio
FROM documents"""


def lang_id(docs: DataFrame, threshold_num: int = 1, threshold_den: int = 20) -> DataFrame:
    """`(doc_id, pred_lang)` — stopword-density language heuristic:
    'en' when stopword_count/token_count >= num/den (integer-exact)."""
    stop_cnt = stop_count_expr()
    n = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        F.when(
            stop_cnt * threshold_den >= n * threshold_num, F.lit("en")
        )
        .otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


def lang_id_oracle(threshold_num: int = 1, threshold_den: int = 20) -> str:
    return f"""SELECT doc_id,
       CASE WHEN {stop_count_sql()} * {threshold_den}
                 >= len(string_split(text, ' ')) * {threshold_num}
            THEN 'en' ELSE 'other' END AS pred_lang
FROM documents"""


def fingerprint(docs: DataFrame, n: int = 3) -> DataFrame:
    """`(doc_id, exact_fp, min_shingle_fp)` — md5 exact fingerprint plus a
    rolling min-hash over word n-grams (content-defined fingerprint that
    survives small edits).

    Position-explode + hash-aggregate rather than a per-row HOF fold: md5
    (and the shingle build itself) inside a lambda runs on the interpreted
    expression path, while the exploded ``element_at`` form keeps both in
    whole-stage codegen — and the map-side partial MIN means the shuffle
    still carries one row per doc.  MIN is duplicate-insensitive, so the
    raw (non-distinct) n-gram stream is fine.  Docs shorter than n words
    keep a NULL min_shingle_fp (explode_outer over an empty position
    sequence yields a NULL position → NULL shingle → NULL min)."""
    from cloudpelican_lsd_spark.operators.dedup import _spread

    els = ", ".join(f"element_at(toks, i + {k})" for k in range(n))
    sh = (
        _spread(docs)
        .select(
            "doc_id",
            F.md5(F.col("text")).alias("exact_fp"),
            F.expr("split(lower(text), ' ')").alias("toks"),
        )
        .select(
            "doc_id",
            "exact_fp",
            "toks",
            F.explode_outer(
                F.expr(
                    f"CASE WHEN size(toks) >= {n} THEN"
                    f" sequence(1, size(toks) - {n - 1}) ELSE array() END"
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "exact_fp",
            # concat_ws would fold NULL args to '' — keep NULL explicit
            F.expr(
                f"CASE WHEN i IS NULL THEN NULL ELSE concat_ws(' ', {els}) END"
            ).alias("shingle"),
        )
    )
    return sh.groupBy("doc_id", "exact_fp").agg(
        F.min(F.md5(F.col("shingle"))).alias("min_shingle_fp")
    )


def fingerprint_oracle(n: int = 3) -> str:
    return f"""WITH pos AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         unnest(generate_series(1, greatest(len(string_split(lower(text), ' ')) - {n - 1}, 0))) AS i
  FROM documents
),
fps AS (
  SELECT doc_id, min(md5(array_to_string(toks[i : i + {n - 1}], ' '))) AS min_shingle_fp
  FROM pos GROUP BY doc_id
)
SELECT d.doc_id, md5(d.text) AS exact_fp, fps.min_shingle_fp
FROM documents d LEFT JOIN fps ON fps.doc_id = d.doc_id"""


def cdc_chunks(
    docs: DataFrame, window: int = 16, divisor: int = 64
) -> DataFrame:
    """`(doc_id, chunk_start, chunk_len, chunk_md5)` — content-defined
    chunking: the rolling-hash document-fingerprint family (boundary
    where the hash of the `window`-char suffix at a position ≡ 0 mod
    `divisor`; expected chunk ≈ divisor chars).  Insert/delete edits
    shift only the chunks they touch, so shared chunks between document
    versions survive — the fragment-level dedup primitive.

    Relational formulation: position-explode (codegen) → windowed-hash
    boundary filter → per-doc running boundary index (window function)
    → per-chunk substring + md5.  Hash = first 8 hex of md5, an exact
    integer both engines compute identically; a true Rabin rolling
    update saves CPU only in a sequential scan — per-position md5 is
    embarrassingly parallel and oracle-reproducible, same output.
    Docs shorter than `window` form one chunk.

    Partitioning (r8, guide §2.4): the end-of-doc sentinel boundary is
    folded INTO the position explode (``concat(sequence(...),
    array(len))``) instead of a second scan unioned on — a Union
    discards child partitioning, so the previous shape's window
    re-exchanged (doc_id, full text, b) PER BOUNDARY ROW: ~len/divisor
    text copies per doc (~64x corpus bytes at the defaults).  With one
    upfront ``repartition("doc_id")`` of the compact doc rows, the
    explode, boundary filter, lag window and chunk md5 all run
    partition-local; the only exchange carries the corpus text once.
    """
    from pyspark.sql import Window

    base = (
        keyed_repartition(
            docs.select("doc_id", "text", F.length("text").alias("doc_len")),
            "doc_id",
        )
    )
    # boundary candidate positions: window end i in [window, len-1] (a
    # boundary at len would add an empty tail chunk the oracle's
    # generate_series also avoids) + the end-of-doc sentinel at len
    pos = base.select(
        "doc_id",
        "text",
        "doc_len",
        F.explode(
            F.expr(
                f"concat(CASE WHEN doc_len > {window}"
                f" THEN sequence({window}, doc_len - 1) ELSE array() END,"
                f" array(doc_len))"
            )
        ).alias("i"),
    )
    bounds = pos.where(
        F.expr(
            f"i = doc_len OR"
            f" cast(conv(substring(md5(substring(text, i - {window - 1}, {window})), 1, 8),"
            f" 16, 10) as bigint) % {divisor} = 0"
        )
    ).select("doc_id", "text", F.col("i").alias("b"))
    w = Window.partitionBy("doc_id").orderBy("b")
    return (
        bounds.withColumn("prev_b", F.coalesce(F.lag("b").over(w), F.lit(0)))
        .where(F.col("b") > F.col("prev_b"))  # zero-length doc guard
        .select(
            "doc_id",
            (F.col("prev_b") + 1).cast("long").alias("chunk_start"),
            (F.col("b") - F.col("prev_b")).cast("long").alias("chunk_len"),
            F.md5(
                F.expr("substring(text, prev_b + 1, b - prev_b)")
            ).alias("chunk_md5"),
        )
    )


def cdc_chunks_oracle(window: int = 16, divisor: int = 64) -> str:
    return f"""WITH pos AS (
  SELECT doc_id, text, length(text) AS len,
         unnest(generate_series({window},
                                greatest(length(text) - 1, {window - 1}))) AS i
  FROM documents
),
bounds AS (
  SELECT doc_id, text, len, i AS b FROM pos
  WHERE CAST(('0x' || substring(md5(substring(text, i - {window - 1}, {window})), 1, 8))
             AS BIGINT) % {divisor} = 0
  UNION ALL
  SELECT doc_id, text, length(text), length(text) FROM documents
),
chunks AS (
  SELECT doc_id, text, b,
         COALESCE(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS prev_b
  FROM bounds
)
SELECT doc_id,
       CAST(prev_b + 1 AS BIGINT) AS chunk_start,
       CAST(b - prev_b AS BIGINT) AS chunk_len,
       md5(substring(text, prev_b + 1, b - prev_b)) AS chunk_md5
FROM chunks WHERE b > prev_b"""


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality heuristics)
# ---------------------------------------------------------------------------


def repetition_ratio(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_words, top_word_cnt, top_word_frac, n_bigrams,
    top_bigram_cnt, top_bigram_frac)` — the Gopher-rules repetition
    signals: what fraction of a document is its single most common word /
    word bigram.  High fractions flag boilerplate and degenerate text for
    corpus filtering.

    Physical shape: two explode → hash-agg chains keyed by
    (doc_id, token); counts partial-aggregate map-side, the shuffle
    carries per-(doc, token) partials, and the per-doc MAX/SUM reduce is
    keyed by doc_id alone.  Both chains and the final join co-partition
    on doc_id, so at 100 TB this is two token-stream shuffles and no
    broadcast of anything unbounded.  Fractions are BIGINT/BIGINT double
    divisions rounded to 6 decimals (deterministic across engines).
    """
    from cloudpelican_lsd_spark.operators.dedup import shingle_rows

    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    udoc = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("top_word_cnt"),
            F.sum("c").cast("long").alias("n_words"),
        )
    )
    bdoc = (
        shingle_rows(docs, 2)
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").cast("long").alias("top_bigram_cnt"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    return udoc.join(bdoc, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "top_word_cnt",
        F.round(F.col("top_word_cnt") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("top_bigram_cnt", F.lit(0)).cast("long").alias(
            "top_bigram_cnt"
        ),
        F.when(F.col("n_bigrams").isNull(), F.lit(0.0))
        .otherwise(F.round(F.col("top_bigram_cnt") / F.col("n_bigrams"), 6))
        .alias("top_bigram_frac"),
    )


REPETITION_RATIO_ORACLE = """\
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
ucnt AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
  GROUP BY doc_id, tok
),
udoc AS (
  SELECT doc_id, MAX(c) AS top_word_cnt, SUM(c) AS n_words
  FROM ucnt GROUP BY doc_id
),
bcnt AS (
  SELECT doc_id, sh, COUNT(*) AS c
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS sh
    FROM toks WHERE len(w) >= 2
  )
  GROUP BY doc_id, sh
),
bdoc AS (
  SELECT doc_id, MAX(c) AS top_bigram_cnt, SUM(c) AS n_bigrams
  FROM bcnt GROUP BY doc_id
)
SELECT u.doc_id,
       u.n_words::BIGINT AS n_words,
       u.top_word_cnt::BIGINT AS top_word_cnt,
       ROUND(u.top_word_cnt / u.n_words, 6) AS top_word_frac,
       COALESCE(b.n_bigrams, 0)::BIGINT AS n_bigrams,
       COALESCE(b.top_bigram_cnt, 0)::BIGINT AS top_bigram_cnt,
       CASE WHEN b.n_bigrams IS NULL THEN 0.0
            ELSE ROUND(b.top_bigram_cnt / b.n_bigrams, 6)
       END AS top_bigram_frac
FROM udoc u LEFT JOIN bdoc b USING (doc_id)"""


# ---------------------------------------------------------------------------
# cross-document shingle contamination
# ---------------------------------------------------------------------------


def shingle_contamination(
    docs: DataFrame, n: int = 8, min_df: int = 2
) -> DataFrame:
    """`(doc_id, n_shingles, n_contaminated, contaminated_frac)` — what
    fraction of each document's DISTINCT word n-grams also appear in at
    least `min_df` documents.  This is the document-level "how much of me
    is duplicated elsewhere" score used for sub-document dedup decisions
    (benchmark-contamination / boilerplate detection).

    Physical shape: ONE scan computes shingles, collapsed to a per-doc
    xxhash64 set in a single doc_id-keyed aggregate (the n-gram-Jaccard
    trick, dedup.py: the hash set IS the distinct-shingle set, its size
    the exact count; collision odds ~|shingles|²/2⁶⁵).  Every downstream
    branch — the shingle df count, the semi-join probe, the per-doc size
    — descends from that one aggregate, so Spark's ReuseExchange serves
    all of them from a single shuffle write instead of re-scanning and
    re-shingling the text column per branch (at 100 TB the text scan is
    the dominant cost; the naive three-branch form reads it 3×).  The df
    table is filtered to df >= min_df BEFORE the semi join, so the
    join's right side holds only actually-duplicated shingles.
    """
    from cloudpelican_lsd_spark.operators.dedup import _spread, shingle_rows

    agg = (
        shingle_rows(_spread(docs), n)
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("shingle")).alias("hs"))
    )
    exploded = agg.select("doc_id", F.explode("hs").alias("h"))
    per_doc = agg.select("doc_id", F.size("hs").cast("long").alias("n_shingles"))
    dup = (
        exploded.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("h")
    )
    contaminated = (
        exploded.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.when(F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_contaminated", F.lit(0))
                    / F.col("n_shingles"),
                    6,
                )
            )
            .alias("contaminated_frac"),
        )
    )


def shingle_contamination_oracle(n: int = 8, min_df: int = 2) -> str:
    from cloudpelican_lsd_spark.operators.dedup import shingles_oracle_cte

    return f"""WITH {shingles_oracle_cte(n)},
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
),
dup AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) >= {min_df}
),
contaminated AS (
  SELECT s.doc_id, COUNT(*) AS n_contaminated
  FROM sh s WHERE s.shingle IN (SELECT shingle FROM dup)
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0)::BIGINT AS n_shingles,
       COALESCE(c.n_contaminated, 0)::BIGINT AS n_contaminated,
       CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN 0.0
            ELSE ROUND(COALESCE(c.n_contaminated, 0) / p.n_shingles, 6)
       END AS contaminated_frac
FROM documents d
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
LEFT JOIN contaminated c ON c.doc_id = d.doc_id"""


# ---------------------------------------------------------------------------
# PII redaction — standard pre-training scrub pass.  Sequential rule
# application (email → IPv4 → long digit runs) so later counts see earlier
# redactions; per-rule match counts ride along for audit.  Pure per-row
# regexp column math: zero shuffle, scales with input splits.  Regexes are
# chosen to mean the same thing in Java regex (Spark) and RE2 (DuckDB).
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(([0-9]{1,3})\.){3}[0-9]{1,3}\b"
PII_DIGITS_RE = r"[0-9]{4,}"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """`(id, redacted, n_email, n_ip, n_num)` — masked text + audit counts.

    Counts are taken on the input of each stage (post prior redaction), so
    an address inside an e-mail is never double-counted.
    """
    r1 = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    r2 = F.regexp_replace(r1, PII_IPV4_RE, "<IP>")
    r3 = F.regexp_replace(r2, PII_DIGITS_RE, "<NUM>")
    return df.select(
        id_col,
        r3.alias("redacted"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_email"),
        F.size(F.regexp_extract_all(r1, F.lit(PII_IPV4_RE), F.lit(0)))
        .cast("long")
        .alias("n_ip"),
        F.size(F.regexp_extract_all(r2, F.lit(PII_DIGITS_RE), F.lit(0)))
        .cast("long")
        .alias("n_num"),
    )


def pii_redact_oracle(
    relation: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin (note the 'g' flag: DuckDB replaces first-only by
    default, Spark replaces all)."""
    r1 = f"regexp_replace({text_col}, '{PII_EMAIL_RE}', '<EMAIL>', 'g')"
    r2 = f"regexp_replace({r1}, '{PII_IPV4_RE}', '<IP>', 'g')"
    r3 = f"regexp_replace({r2}, '{PII_DIGITS_RE}', '<NUM>', 'g')"
    return f"""\
SELECT {id_col},
       {r3} AS redacted,
       len(regexp_extract_all({text_col}, '{PII_EMAIL_RE}'))::BIGINT AS n_email,
       len(regexp_extract_all({r1}, '{PII_IPV4_RE}'))::BIGINT AS n_ip,
       len(regexp_extract_all({r2}, '{PII_DIGITS_RE}'))::BIGINT AS n_num
FROM {relation}"""


# ---------------------------------------------------------------------------
# TF-IDF top terms — classic corpus feature extraction.  tf and df come out
# of ONE token aggregation (df re-aggregates the tf relation, so the wide
# token shuffle happens once and ReuseExchange serves both); idf joins back
# by token (tiny vocabulary side), top-k per doc is a row_number window.
# Deterministic: rank on (round(score,6) DESC, term ASC); equal (tf, df)
# pairs produce bit-identical doubles in both engines, so the only ulp risk
# is ln(), absorbed by the rounding.
# ---------------------------------------------------------------------------


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """`(doc_id, term, tf, df, score, rnk)` — top-k terms per document by
    tf·ln(N/df), whitespace tokens of lower(text)."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # `tf >= 1` is always true, but it REFERENCES tf: without it, column
    # pruning drops the count from this branch's copy of the aggregation,
    # the two subtrees stop being canonically equal, and ReuseExchange
    # cannot dedup them — the wide token shuffle would run twice
    # (verified in the physical plan).  With it: one shuffle, reused.
    df_tbl = (
        tf.where(F.col("tf") >= 1)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


def tfidf_topk_oracle(k: int = 5) -> str:
    return f"""\
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         ROUND(t.tf * ln(n.n_docs / d.df), 6) AS score
  FROM tf t JOIN df d USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= {k}"""


# ---------------------------------------------------------------------------
# Unigram log-prob quality score — the CCNet/Gopher-style LM filter with a
# corpus-MLE unigram model standing in for the external KenLM: documents
# whose tokens are improbable under the corpus distribution score high
# (gibberish, wrong-language, boilerplate-free noise).  Deterministic
# cross-engine: each token's -ln(p) is rounded to integer micro-nats
# FIRST, so the per-document sum is exact BIGINT arithmetic — float
# summation order never matters.
# ---------------------------------------------------------------------------


def unigram_microsums(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_tokens, sum_micro)` — per-document token count and
    exact BIGINT sum of integer micro-nat unigram costs (the shared core
    of :func:`unigram_logprob` and the corpus perplexity splits).  One
    token shuffle builds the vocabulary; the cost-table join strategy is
    left to AQE: the vocabulary is UNBOUNDED (Heaps-law sublinear but
    ~1e8-1e9 distinct terms at the 100 TB shape, dominated by IDs and
    noise tokens), so pinning `F.broadcast` would OOM the driver — AQE
    broadcasts it while small and reuses the vocabulary exchange for a
    shuffled join when it is not."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    costs = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(-F.log(F.col("cnt") / F.col("total")) * 1e6, 0)
        .cast("long")
        .alias("micro_nll"),
    )
    return (
        toks.join(costs, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("micro_nll").alias("sum_micro"),
        )
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_tokens, mean_nll)` — mean negative log-likelihood per
    token under the corpus's own unigram MLE.  One token shuffle builds
    the vocabulary; token costs broadcast back; per-doc sums are exact
    integer micro-nats."""
    return (
        unigram_microsums(docs)
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("sum_micro") / F.col("n_tokens") / 1e6, 6).alias(
                "mean_nll"
            ),
        )
    )


UNIGRAM_LOGPROB_ORACLE = """\
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
vocab AS (
  SELECT term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY term
),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
costs AS (
  SELECT term,
         CAST(ROUND(-ln(cnt / total) * 1e6, 0) AS BIGINT) AS micro_nll
  FROM vocab CROSS JOIN tot
)
SELECT t.doc_id,
       COUNT(*)::BIGINT AS n_tokens,
       ROUND(SUM(c.micro_nll) / COUNT(*) / 1e6, 6) AS mean_nll
FROM toks t JOIN costs c USING (term)
GROUP BY t.doc_id"""


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """`(source, n_bytes, n_bpe_tokens, bytes_per_token_ppm)` — per-source
    tokenizer fertility: how many UTF-8 bytes each BPE-ish token covers.

    The tokenizer-efficiency report a training pipeline runs per source:
    low fertility (≈1 byte/token) means the tokenizer fragments that
    source (code, non-Latin scripts) and its token budget buys less
    text; it drives both cost estimates and mixture decisions.  Exact
    integer output (`bytes·10⁶ div tokens`) — no float division in the
    hash path.  One scan, per-row counting (octet_length + the shared
    BPE_RE regex count), one |sources|-row aggregate: map-side partial,
    ~zero network.
    """
    return (
        docs.select(
            "source",
            F.octet_length("text").cast("long").alias("b"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))
            )
            .cast("long")
            .alias("t"),
        )
        .groupBy("source")
        .agg(F.sum("b").alias("n_bytes"), F.sum("t").alias("n_bpe_tokens"))
        .select(
            "source",
            "n_bytes",
            "n_bpe_tokens",
            # DECIMAL(38,0): n_bytes·10⁶ exceeds BIGINT past ~9.2 TB of
            # text per source — inside the 100 TB design point (the
            # DuckDB side is HUGEINT-exact already)
            F.expr(
                "CAST(CAST(n_bytes AS decimal(38,0)) * 1000000"
                " div n_bpe_tokens AS BIGINT)"
            ).alias("bytes_per_token_ppm"),
        )
    )


TOKENIZER_FERTILITY_ORACLE = f"""\
SELECT source,
       SUM(strlen(text))::BIGINT AS n_bytes,
       SUM(len(regexp_extract_all(text, '{BPE_RE}')))::BIGINT
         AS n_bpe_tokens,
       CAST(SUM(strlen(text))::HUGEINT * 1000000
            // SUM(len(regexp_extract_all(text, '{BPE_RE}')))
            AS BIGINT) AS bytes_per_token_ppm
FROM documents
GROUP BY source"""


def char_symbols(docs: DataFrame) -> DataFrame:
    """`(syms array<string>)` — one row per whitespace pre-token of ≥2
    chars, split into single-character symbols: BPE training's initial
    state."""
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .where(F.length("tok") >= 2)
        .select(
            F.expr(
                "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"
            ).alias("syms")
        )
    )


def bpe_merge_candidates(symbols: DataFrame, k: int = 20) -> DataFrame:
    """`(sym_a, sym_b, cnt)` — the top-k most frequent ADJACENT symbol
    pairs over `(syms array<string>)` rows: the inner loop of BPE
    tokenizer training.  A driver-side loop alternating this step with
    :func:`bpe_apply_merge` IS BPE training (same step-structure as
    kmeans_step driving Lloyd iterations); iteration 0 starts from
    :func:`char_symbols`.

    Deterministic: ties break on (sym_a, sym_b) lexicographically —
    the classic BPE convention of a total order over pairs.  100 TB
    shape: one scan; the pair explode emits ~1 row per corpus symbol
    but the map-side partial count collapses to the (tiny) pair
    vocabulary before the only shuffle; top-k is
    TakeOrderedAndProject over |pairs| rows.
    """
    # size guard (the shingle_rows lesson): a fully-merged token can be
    # ONE symbol, and Spark's sequence(1, 0) is the DESCENDING [1, 0]
    pairs = symbols.select(
        F.explode(
            F.expr(
                "CASE WHEN size(syms) >= 2 THEN sequence(1, size(syms) - 1)"
                " ELSE array() END"
            )
        ).alias("i"),
        "syms",
    ).select(
        F.expr("element_at(syms, i)").alias("sym_a"),
        F.expr("element_at(syms, i + 1)").alias("sym_b"),
    )
    return (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "sym_a", "sym_b")
        .limit(k)
    )


def bpe_apply_merge(symbols: DataFrame, a: str, b: str) -> DataFrame:
    """Replace every non-overlapping left-to-right adjacent `(a, b)` with
    the merged symbol `a+b` — one BPE training iteration's rewrite.

    A look-back fold (pyspark `F.aggregate`, literals passed as Columns
    so arbitrary symbols are safe): append each symbol unless the
    accumulator ends with `a` and the current is `b`, in which case the
    tail is replaced by the merge.  Greedy-left semantics fall out
    naturally ('aaa' + merge(a,a) → ['aa','a']; the merged tail only
    re-merges when it literally equals `a` again).  HOF lambdas run
    interpreted — fine here: this rewrite executes once per training
    iteration, not in any query hot path.
    """
    merged = F.aggregate(
        F.col("syms"),
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return symbols.select(merged.alias("syms"))


def bpe_merge_candidates_oracle(k: int = 20) -> str:
    return f"""\
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
pairs AS (
  SELECT substr(tok, i, 1) AS sym_a, substr(tok, i + 1, 1) AS sym_b
  FROM toks, unnest(generate_series(1, length(tok) - 1)) AS t(i)
  WHERE length(tok) >= 2
)
SELECT sym_a, sym_b, COUNT(*)::BIGINT AS cnt
FROM pairs GROUP BY sym_a, sym_b
ORDER BY cnt DESC, sym_a, sym_b
LIMIT {k}"""


def source_divergence(docs: DataFrame) -> DataFrame:
    """`(source, n_tokens, distinct_tokens, tvd_ppb)` — per-source total
    variation distance between the source's unigram token distribution
    and the corpus-wide distribution, in parts-per-billion.

    The mixture-health metric next to `corpus_source_mixture`: a source
    whose TVD drifts upward between snapshots changed register/topic/
    language mix and its weight needs revisiting.  TVD is chosen over
    KL precisely because it is **rational in the counts** — the whole
    computation stays in exact integer arithmetic (DECIMAL(38,0) /
    HUGEINT), so the result is bit-identical across engines and
    partitionings; a log-based divergence would hang the driver hash on
    libm's last ulp.

    Missing-mass closed form: summing |p_t − q_t| over the FULL corpus
    vocabulary would charge every source the tokens it lacks; those
    absent terms contribute q_t each, which totals `1 − (corpus mass on
    the source's own vocabulary)` — so the scan only ever joins a
    source's own `(source, term)` rows against the corpus counts:

        TVD·2·Ns·Nc = Σ_{{t∈S}} |cnt_t·Nc − corp_t·Ns| + Ns·(Nc − Σ_{{t∈S}} corp_t)

    100 TB shape: ONE token explode, evaluated once.  The
    `groupBy(source, term)` output (vocabulary×sources rows, map-side
    partial collapses before the only corpus-sized shuffle) is consumed
    by a single chain: corpus-per-term counts come from a WINDOW over
    term (distributed — |sources| rows per term key), NOT a
    groupBy+join-back, which would re-evaluate the explode subtree on
    both sides (the recorded two-consumer trap: exchange reuse breaks
    when column pruning specializes a branch).  `v_src` is just
    COUNT(*) of the final per-source aggregate.  The per-source and
    corpus token totals come from a separate DOC-LEVEL branch (scan +
    tiny agg — `sum(size(split(text)))` per source — no explode, no
    token shuffle), broadcast back; a second lightweight scan is the
    price of keeping the dominant explode single-pass.  Headroom: the
    pre-division product is ≤ 2·Ns·Nc·10⁹ ≈ 4·10³⁵ at Nc = 2·10¹³
    tokens (≈100 TB of text) — inside DECIMAL(38,0).
    """
    from pyspark.sql.window import Window

    dec = "decimal(38,0)"
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    stc = st.withColumn(
        "corp", F.sum("cnt").over(Window.partitionBy("term"))
    )
    # doc-level totals: same token counts as the explode (split length),
    # an order of magnitude cheaper to compute — |sources| output rows
    docstats = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower("text"), " ")).cast("long")).alias(
            "n_src"
        )
    )
    docstats = docstats.withColumn(
        "n_corp",
        F.sum("n_src").over(Window.partitionBy(F.lit(0))),
    )
    joined = stc.join(F.broadcast(docstats), "source")
    agg = joined.groupBy("source").agg(
        F.max("n_src").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.max("n_corp").alias("n_corp"),
        F.sum(
            F.abs(
                F.col("cnt").cast(dec) * F.col("n_corp").cast(dec)
                - F.col("corp").cast(dec) * F.col("n_src").cast(dec)
            )
        ).alias("sum_abs"),
        F.sum(F.col("corp").cast(dec)).alias("cov"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "distinct_tokens",
        F.expr(
            f"CAST(((sum_abs + CAST(n_tokens AS {dec})"
            f"        * (CAST(n_corp AS {dec}) - cov)) * 1000000000)"
            f" div (2 * CAST(n_tokens AS {dec}) * CAST(n_corp AS {dec}))"
            " AS BIGINT)"
        ).alias("tvd_ppb"),
    )


SOURCE_DIVERGENCE_ORACLE = """\
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
st AS (SELECT source, term, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY 1, 2),
ct AS (SELECT term, SUM(cnt)::BIGINT AS corp FROM st GROUP BY 1),
ns AS (SELECT source, SUM(cnt)::BIGINT AS n_src, COUNT(*)::BIGINT AS v_src
       FROM st GROUP BY 1),
nc AS (SELECT SUM(cnt)::BIGINT AS n_corp FROM st)
SELECT st.source,
       MAX(ns.n_src) AS n_tokens,
       MAX(ns.v_src) AS distinct_tokens,
       CAST(((SUM(ABS(st.cnt::HUGEINT * nc.n_corp
                      - ct.corp::HUGEINT * ns.n_src))
              + MAX(ns.n_src)::HUGEINT * (MAX(nc.n_corp) - SUM(ct.corp)))
             * 1000000000)
            // (2 * MAX(ns.n_src)::HUGEINT * MAX(nc.n_corp)) AS BIGINT)
         AS tvd_ppb
FROM st JOIN ct USING (term) JOIN ns USING (source) CROSS JOIN nc
GROUP BY st.source"""


def chunk_windows(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """`(doc_id, chunk_id, n_chunk_tokens, chunk_text)` — fixed-size
    token-window chunking with overlap, the RAG/embedding-ingestion
    primitive (split every document into ≤ chunk_tokens-token windows,
    consecutive windows sharing `overlap` tokens so no sentence is cut
    without context on either side).

    Chunk count is exact integer arithmetic — `1` when the doc fits,
    else `⌈(n − chunk)/stride⌉ + 1` via `(n − chunk + stride − 1) div
    stride + 1` (no float ceil to disagree across engines); chunk i
    covers tokens `[i·stride + 1, i·stride + chunk]`, the last chunk
    runs short rather than padding.  100 TB shape: pure per-row
    explode + slice in one codegen projection — zero shuffles, zero
    joins, linear in corpus tokens; output rows ≈ tokens/stride.
    Complements pack_sequences (which assembles fixed windows ACROSS
    documents for training); chunking stays WITHIN the document for
    retrieval.
    """
    if not (0 <= overlap < chunk_tokens):
        # a real raise, not assert (`python -O` strips asserts): an
        # overlap >= chunk size makes the stride non-positive and the
        # chunk grid loops forever conceptually — here it would emit a
        # garbage descending sequence instead
        raise ValueError(
            f"overlap={overlap} must satisfy 0 <= overlap < "
            f"chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    # empty/whitespace-only docs (split yields ['']) emit ZERO chunks —
    # without the guard a RAG pipeline would embed empty chunk_text rows.
    # The array() branch also matters mechanically: Spark's
    # sequence(0, -1) is the DESCENDING [0, -1], not empty.
    n_chunks = (
        f"CASE WHEN size(toks) = 1 AND element_at(toks, 1) = '' THEN 0"
        f" WHEN size(toks) <= {chunk_tokens} THEN 1"
        f" ELSE (size(toks) - {chunk_tokens} + {stride} - 1) div {stride} + 1 END"
    )
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(
                    f"CASE WHEN ({n_chunks}) = 0 THEN array()"
                    f" ELSE sequence(0, ({n_chunks}) - 1) END"
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_id"),
            F.expr(
                f"CAST(size(slice(toks, i * {stride} + 1, {chunk_tokens}))"
                " AS BIGINT)"
            ).alias("n_chunk_tokens"),
            F.expr(
                f"concat_ws(' ', slice(toks, i * {stride} + 1, {chunk_tokens}))"
            ).alias("chunk_text"),
        )
    )


def chunk_windows_oracle(chunk_tokens: int = 64, overlap: int = 16) -> str:
    stride = chunk_tokens - overlap
    return f"""\
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) = 1 AND toks[1] = '' THEN 0
              WHEN len(toks) <= {chunk_tokens} THEN 1
              ELSE (len(toks) - {chunk_tokens} + {stride} - 1) // {stride} + 1
         END AS n_chunks
  FROM t
),
e AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS i FROM c
)
SELECT doc_id, i::BIGINT AS chunk_id,
       len(toks[i * {stride} + 1 : i * {stride} + {chunk_tokens}])::BIGINT
         AS n_chunk_tokens,
       array_to_string(toks[i * {stride} + 1 : i * {stride} + {chunk_tokens}],
                       ' ') AS chunk_text
FROM e"""


#: default BM25 query for the gate query: one rare term (df ≈ 5% of the
#: synthetic corpus — carries the idf signal) + two common terms (idf
#: clamps to 0 — exercising the clamp path)
BM25_QUERY_TERMS = ["dup", "hash", "join"]


def bm25_topk(
    docs: DataFrame, terms: list[str] | None = None, k: int = 10
) -> DataFrame:
    """`(doc_id, score_micro)` — top-k documents by BM25 (k1=1.2, b=0.75)
    for a fixed bag of query terms, in deterministic fixed-point.

    Ranked lexical retrieval — the reference is a log-*search* tool
    (grep → SQL), so relevance-ranked search is the natural completion
    of that surface, and the lexical half of a hybrid
    lexical+vector retrieval stack (see similarity.rank_fusion).

    Determinism: the tf-saturation/length-norm factor is **rational in
    the counts** — with k1=6/5, b=3/4, multiplying through by
    20·total·N clears every denominator:

        sat_ppm = ⌊44·tf·total·10⁶ / (20·tf·total + 6·total + 18·dl·N)⌋

    computed in DECIMAL(38,0)/HUGEINT (headroom: 44·tf·total·10⁶ ≈
    10³⁷ at tf=10⁴, total=2·10¹³ ≈ 100 TB of text).  The idf
    (Robertson ln((N−df+½)/(df+½)), floored at 0) is transcendental but
    evaluated once per QUERY TERM — a handful of values rounded at
    micro precision, the same discipline unigram_logprob has held green
    across engines for three rounds.  Zero-score docs (all their
    matched terms idf-clamped) are excluded, standard retrieval
    semantics.

    100 TB shape: NO token explode and NO per-term join — the query bag
    is fixed and small, so per-term tf's are computed as columns of one
    narrow projection (`filter(toks, x -> x = term)` per term); a
    single global aggregate produces N, total AND every per-term df in
    one singleton (map-side partial, broadcast back); the scoring pass
    touches only docs matching ≥1 term and ends in a global top-k
    (TakeOrderedAndProject).  Two evaluations of the projection (the
    corpus-stats pass and the scoring pass) is the floor for BM25
    without materializing doc stats; a production deployment persists
    the `(doc_id, dl, tf…)` projection once per query workload (e.g.
    through checkpoint.materialize with a checkpoint dir configured).
    """
    # dedupe (a repeated term must not score twice — the oracle's
    # GROUP BY term counts it once) and reject the degenerate empty bag
    # instead of generating unparseable SQL
    terms = list(dict.fromkeys(terms if terms is not None else BM25_QUERY_TERMS))
    if not terms:
        raise ValueError("bm25_topk: query term list is empty")
    dec = "decimal(38,0)"
    nt = len(terms)
    # _spread (guide §2.5): the per-term tf projection (split + nt
    # array_remove passes per row) is pure per-row CPU; a single-split
    # local scan serializes both the stats and scoring passes onto one
    # core (measured sf0.1: hybrid_retrieval_topk's 0.8 s single task).
    # No-op at scale (gated on scan split count).  weight=nt/2: the
    # per-row cost is ~nt array_remove passes over the token array, far
    # above the byte-proportional md5 chains the spread quantum was
    # sized for (r9 cold+warm A/B: right-sized-at-weight-1 lost ~0.15 s
    # on text_bm25_topk vs the full fan-out while every other spread
    # site won — this is the one site whose work estimate needs the
    # multiplier).
    from cloudpelican_lsd_spark.operators.dedup import _spread

    wide = _spread(docs, weight=max(1.0, nt / 2)).select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            # size-difference, not a filter() lambda: array_remove stays
            # on the codegen path (HOF lambdas are interpreted — the
            # shingle_rows lesson).  The term goes in as a pyspark
            # literal, not interpolated SQL text — quote-bearing terms
            # (o'brien) are safe.
            (
                F.size("toks") - F.size(F.array_remove(F.col("toks"), t))
            )
            .cast("bigint")
            .alias(f"tf{j}")
            for j, t in enumerate(terms)
        ],
    )
    stats = wide.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total"),
        *[
            F.sum((F.col(f"tf{j}") > 0).cast("long")).alias(f"df{j}")
            for j in range(nt)
        ],
    )
    idf = lambda j: (  # noqa: E731 — micro-rounded Robertson idf, floored at 0
        f"GREATEST(CAST(ROUND(ln((n_docs - df{j} + 0.5) / (df{j} + 0.5))"
        f" * 1e6, 0) AS BIGINT), CAST(0 AS BIGINT))"
    )
    sat = lambda j: (  # noqa: E731 — denominator-cleared saturation, ppm
        f"(CAST(44 AS {dec}) * tf{j} * total * 1000000"
        f" div (CAST(20 AS {dec}) * tf{j} * total + CAST(6 AS {dec}) * total"
        f"      + CAST(18 AS {dec}) * dl * n_docs))"
    )
    score = " + ".join(
        f"(CASE WHEN tf{j} > 0 THEN {idf(j)} * {sat(j)} div 1000000"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(nt)
    )
    matched = wide.where(
        " OR ".join(f"tf{j} > 0" for j in range(nt))
    )
    return (
        matched.crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(score).alias("score_micro"))
        .where(F.col("score_micro") > 0)
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(k)
    )


def bm25_topk_oracle(terms: list[str] | None = None, k: int = 10) -> str:
    terms = list(dict.fromkeys(terms if terms is not None else BM25_QUERY_TERMS))
    if not terms:
        raise ValueError("bm25_topk_oracle: query term list is empty")
    in_list = ", ".join("'{}'".format(t.replace("'", "''")) for t in terms)
    return f"""\
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
bd AS (SELECT doc_id, len(toks)::BIGINT AS dl, toks FROM base),
stats AS (
  SELECT COUNT(*)::BIGINT AS n_docs, SUM(len(toks))::BIGINT AS total
  FROM base
),
qt AS (SELECT doc_id, dl, unnest(toks) AS term FROM bd),
tf AS (
  SELECT doc_id, dl, term, COUNT(*)::BIGINT AS tf FROM qt
  WHERE term IN ({in_list}) GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         GREATEST(CAST(ROUND(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5))
                             * 1e6, 0) AS BIGINT), 0) AS idf_micro,
         CAST((44::HUGEINT * tf.tf * s.total * 1000000)
              // (20::HUGEINT * tf.tf * s.total + 6::HUGEINT * s.total
                  + 18::HUGEINT * tf.dl * s.n_docs) AS BIGINT) AS sat_ppm
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
)
SELECT doc_id,
       SUM(idf_micro * sat_ppm // 1000000)::BIGINT AS score_micro
FROM scored GROUP BY doc_id
HAVING SUM(idf_micro * sat_ppm // 1000000) > 0
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""


# ---------------------------------------------------------------------------
# Boilerplate line removal (RefinedWeb/CCNet-style line-level dedup)
# ---------------------------------------------------------------------------


def line_dedup(docs: DataFrame, min_df: int = 3, text_col: str = "text") -> DataFrame:
    """Remove every occurrence of a line that appears >= ``min_df`` times
    across the corpus (boilerplate policy of the public RefinedWeb/CCNet
    pipelines: navigation chrome, cookie banners, repeated headers).

    Output: `(doc_id, clean_text, n_kept, n_dropped)` — lines rejoined in
    original order; documents whose every line is boilerplate drop out.

    100 TB shape: ONE scan, TWO shuffles, ZERO joins — the corpus-wide
    frequency is a COUNT window over ``(md5(line), line)`` (a groupBy+join
    back would re-evaluate the explode subtree on both sides), then the
    doc-keyed reassembly agg whose state is bounded by document size.
    Partitioning by the raw line alongside its md5 makes an adversarial
    md5 collision (feasible on scraped web text) unable to merge two
    distinct lines' counts: colliding lines hash to the same shuffle
    partition but form separate window groups.  The md5 stays first in
    the key so the exchange hashes a fixed-width prefix.
    """
    from pyspark.sql import Window

    ex = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    flagged = ex.withColumn(
        "keep",
        F.count(F.lit(1)).over(Window.partitionBy("lh", "line")) < min_df,
    )
    # r8 (guide §2.4): the reassembly agg's doc_id exchange is made
    # EXPLICIT-count so the output partitioning is real at runtime.
    # Every clean-pipeline consumer (Gopher panel, C4 gate, dedup
    # chain) hangs off this aggregate's layout, and the plain
    # ENSURE_REQUIREMENTS exchange is AQE-coalescible by BYTES — the
    # ~1.4 MB post-agg stream coalesced to ONE partition at sf0.1 and
    # serialized the panel + gate regex work into single 3.4-4.5 s
    # tasks (measured, stage metrics; the same undercount class
    # keyed_repartition exists for).  A caller-side repartition cannot
    # fix this: repartition(n, doc_id) above the agg is removed by the
    # optimizer as redundant with the agg's own partitioning.
    return (
        keyed_repartition(flagged, "doc_id")
        .groupBy("doc_id")
        .agg(
            # one F.expr per aggregate (r9, guide §7.3): the Column-chain
            # form cost ~300 py4j round trips per build, paid by every
            # clean-pipeline consumer; the parsed AST is identical
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "CASE WHEN keep THEN struct(pos, line) END)),"
                " s -> s.line), '\n') AS clean_text"
            ),
            F.expr("sum(CAST(keep AS BIGINT)) AS n_kept"),
            F.expr("sum(CAST((NOT keep) AS BIGINT)) AS n_dropped"),
        )
        .where(F.col("n_kept") >= 1)
    )


def line_dedup_oracle(min_df: int = 3, words_per_line: int = 10) -> str:
    """Oracle over the 10-word-line view of `documents` (the corpus has
    no newlines, so the fixture derives deterministic lines)."""
    return f"""WITH {lined_view_cte('documents', words_per_line)},
freq AS (SELECT line, COUNT(*)::BIGINT AS df FROM ex GROUP BY line)
SELECT e.doc_id,
       string_agg(e.line, chr(10) ORDER BY e.pos)
         FILTER (WHERE f.df < {min_df}) AS clean_text,
       CAST(COUNT(*) FILTER (WHERE f.df < {min_df}) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE f.df >= {min_df}) AS BIGINT) AS n_dropped
FROM ex e JOIN freq f USING (line)
GROUP BY e.doc_id
HAVING COUNT(*) FILTER (WHERE f.df < {min_df}) >= 1"""


def split_into_lines(
    docs: DataFrame, words_per_line: int = 10, text_col: str = "text"
) -> DataFrame:
    """Fixture view: derive a '\\n'-line-structured `text` by fixed word
    windows — for corpora without natural line structure (the testdata).
    THE one definition of the chunking both line-dedup consumers and
    their DuckDB twins (``lined_view_cte``) must agree on."""
    w = int(words_per_line)
    return docs.select(
        "doc_id",
        F.expr(
            f"array_join(transform(sequence(0,"
            f" CAST(ceil(size(split({text_col}, ' ')) / {w}.0) AS INT) - 1),"
            f" i -> array_join(slice(split({text_col}, ' '), i * {w} + 1, {w}), ' ')),"
            " '\\n')"
        ).alias("text"),
    )


def lined_view_cte(
    base_table: str = "documents", words_per_line: int = 10, prefix: str = ""
) -> str:
    """DuckDB twin of :func:`split_into_lines`, exploded: CTEs
    ``{prefix}d`` and ``{prefix}ex (doc_id, pos, line)``."""
    w, p = int(words_per_line), prefix
    return f"""{p}d AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM {base_table}
),
{p}ex AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[i*{w}+1 : i*{w}+{w}], ' ') AS line
  FROM {p}d, unnest(generate_series(0,
         CAST(ceil(len(words) / {w}.0) AS BIGINT) - 1)) AS t(i)
)"""


# ---------------------------------------------------------------------------
# Trending terms (day-over-day riser report over the log stream)
# ---------------------------------------------------------------------------


def trending_terms(
    logs: DataFrame, k: int = 5, min_cnt: int = 5
) -> DataFrame:
    """`(day, rk, token, cnt, prev_cnt, rise)` — the top-``k`` tokens per
    day by count rise versus the previous calendar day: the "what new
    error term surfaced today" question a log operator actually asks
    (the reference's filters are written by hand AFTER someone notices a
    new term; this query notices it).

    Digit-led tokens (timestamps) are excluded; ``min_cnt`` floors out
    per-line-unique junk (ids, values).  A token absent yesterday counts
    from zero — lag() is day-gap-aware, not row-adjacent.

    100 TB shape: token explode → one (day, token) hash agg with
    map-side partials (the shuffle carries counts, not tokens per line),
    one token-keyed lag window, one day-keyed top-k window — counts
    table is days × vocabulary, tiny next to the raw stream.
    """
    from pyspark.sql import Window

    from cloudpelican_lsd_spark.operators.dedup import _spread

    # _spread (guide §2.5): the explode + per-token regex runs on the
    # scan stage; a single-split local scan serialized it onto one core
    # (measured sf0.1: 0.8 s single task).  No-op at scale.
    toks = _spread(logs).select(
        (F.col("ts_epoch") - F.col("ts_epoch") % 86400).alias("day"),
        F.explode(F.split(F.col("_raw"), " ")).alias("token"),
    ).where(~F.col("token").rlike("^[0-9]"))
    counts = toks.groupBy("day", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("token").orderBy("day")
    prev = F.when(
        F.lag("day").over(w) == F.col("day") - 86400, F.lag("cnt").over(w)
    ).otherwise(F.lit(0))
    risers = (
        counts.withColumn("prev_cnt", prev.cast("long"))
        .withColumn("rise", (F.col("cnt") - F.col("prev_cnt")).cast("long"))
        .where(F.col("cnt") >= min_cnt)
    )
    rw = Window.partitionBy("day").orderBy(
        F.col("rise").desc(), F.col("token").asc()
    )
    return (
        risers.withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") <= k)
        .select("day", "rk", "token", "cnt", "prev_cnt", "rise")
    )


def trending_terms_oracle(k: int = 5, min_cnt: int = 5) -> str:
    """DuckDB twin of :func:`trending_terms` over the `logs` CTE."""
    return f"""toks AS (
  SELECT (ts_epoch - ts_epoch % 86400) AS day,
         unnest(string_split(_raw, ' ')) AS token
  FROM logs
),
f AS (SELECT day, token FROM toks WHERE NOT regexp_matches(token, '^[0-9]')),
counts AS (SELECT day, token, COUNT(*)::BIGINT AS cnt FROM f GROUP BY 1, 2),
shifted AS (
  SELECT day, token, cnt,
         CAST(CASE WHEN lag(day) OVER (PARTITION BY token ORDER BY day)
                        = day - 86400
                   THEN lag(cnt) OVER (PARTITION BY token ORDER BY day)
                   ELSE 0 END AS BIGINT) AS prev_cnt
  FROM counts),
risers AS (
  SELECT day, token, cnt, prev_cnt,
         CAST(cnt - prev_cnt AS BIGINT) AS rise
  FROM shifted WHERE cnt >= {min_cnt}),
ranked AS (
  SELECT day, CAST(row_number() OVER (PARTITION BY day
               ORDER BY rise DESC, token ASC) AS INT) AS rk,
         token, cnt, prev_cnt, rise
  FROM risers)
SELECT day, rk, token, cnt, prev_cnt, rise FROM ranked WHERE rk <= {k}"""


# ---------------------------------------------------------------------------
# Count-Min sketch — bounded-memory heavy hitters, accuracy-audited
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(tok_col, d: int, width: int):
    """Row-*d* bucket: seeded sliced-md5 (`md5('<d>:'||tok)`), the same
    cross-engine digest family as minhash/bloom."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}:"), tok_col)), 1, 4), 16, 10
        ).cast("long")
        % width
    )


def cms_topk_audit(
    docs: DataFrame,
    k: int = 50,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """`(token, true_cnt, cms_est, overest)` — the corpus's top-``k``
    tokens (by exact count; ties broken by token) with the Count-Min
    sketch estimate computed from a ``depth x width`` counter table.

    The bounded-memory heavy-hitter story: at 100 TB the exact per-token
    agg is still one shuffle, but a CMS is ``depth*width`` BIGINTs — a
    few KB of state that merges associatively across any partitioning
    (each mapper sketches its split, the reduce is elementwise +), which
    is what a streaming or multi-tenant top-k needs.  This operator keeps
    both paths and AUDITS the sketch against the exact counts — the same
    estimate-vs-true pattern as dedup.minhash_estimate_vs_true and
    similarity.pq_recall.  ``cms_est >= true_cnt`` always (collisions
    only ever add), so ``overest`` is the per-token collision cost.

    Determinism: buckets are seeded sliced-md5; every count is BIGINT;
    the min over depth rows is exact — the whole audit value-hashes.
    """
    tok_counts = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    hashed = tok_counts.select(
        "tok",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(F.col("tok"), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db"),
    ).select("tok", "true_cnt", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    counters = hashed.groupBy("d", "bucket").agg(
        F.sum("true_cnt").alias("counter")
    )
    topk = tok_counts.orderBy(F.col("true_cnt").desc(), F.col("tok")).limit(k)
    return (
        hashed.join(F.broadcast(topk.select("tok")), "tok")
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("counter").alias("cms_est"))
        .select(
            F.col("tok").alias("token"),
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("true_cnt")).cast("long").alias("overest"),
        )
    )


def cms_topk_audit_oracle(
    k: int = 50, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    return f"""WITH ctok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
ccnt AS (SELECT tok, COUNT(*)::BIGINT AS true_cnt FROM ctok GROUP BY tok),
chash AS (
  SELECT tok, true_cnt, t.d,
         ('0x' || substr(md5(t.d || ':' || tok), 1, 4))::BIGINT % {width} AS bucket
  FROM ccnt, unnest(generate_series(0, {depth - 1})) AS t(d)
),
ccounter AS (
  SELECT d, bucket, SUM(true_cnt)::BIGINT AS counter
  FROM chash GROUP BY d, bucket
),
ctop AS (
  SELECT tok, true_cnt FROM ccnt
  ORDER BY true_cnt DESC, tok LIMIT {k}
)
SELECT h.tok AS token, h.true_cnt,
       MIN(c.counter)::BIGINT AS cms_est,
       (MIN(c.counter) - h.true_cnt)::BIGINT AS overest
FROM chash h
JOIN ctop t ON t.tok = h.tok
JOIN ccounter c ON c.d = h.d AND c.bucket = h.bucket
GROUP BY h.tok, h.true_cnt"""


# ---------------------------------------------------------------------------
# known-item retrieval evaluation (reciprocal rank, exact ppm)
# ---------------------------------------------------------------------------


def known_item_mrr(
    docs: DataFrame, probe_mod: int = 25, q_tokens: int = 4, topk: int = 10
) -> DataFrame:
    """`(qid, rank, rr_ppm)` — known-item retrieval self-evaluation: for
    every probe document (``doc_id % probe_mod == 0``) synthesize a
    query from its ``q_tokens`` most DISTINCTIVE terms (highest idf —
    the standard synthetic-query generation for IR eval), rank the
    corpus by tf·idf, and report the rank at which the probe document
    itself comes back (0 = not in the top-``topk``) plus the exact
    reciprocal rank in ppm (``1000000 div rank``).  Averaging rr_ppm
    gives MRR@k — the retrieval-quality number a RAG corpus pipeline
    tracks per release.

    Plan shape: this is the INVERTED-INDEX retrieval plan — tokens
    explode once into `(doc_id, term, tf)`, the (tiny) query-term table
    joins on `term`, candidates aggregate per (qid, doc) — the
    many-queries complement to bm25_topk's fixed-bag column plan.
    High-idf query terms double as the candidate prune: rare terms
    touch few docs (at 100 TB also add a max_df guard, as in
    ngram_jaccard_pairs).

    Terms are word BIGRAMS (dedup.shingle_rows n=2 — the one shared
    shingle implementation): on a small-vocabulary corpus unigrams
    cannot discriminate documents (every word is near-ubiquitous), while
    bigram idf carries real signal — the same reason phrase indexing
    exists.  Determinism: tf and ranks are BIGINT; idf = ln(N/df)
    micro-rounded (the unigram_logprob discipline); query-term and
    result ties break lexicographically / by doc_id.  The probe always
    matches its own query terms, so rank 0 can only mean "more than
    topk better-scoring docs", never "missing".
    """
    from pyspark.sql import Window

    from cloudpelican_lsd_spark.operators.dedup import shingle_rows

    inv = (
        shingle_rows(docs, n=2)
        .groupBy("doc_id", F.col("shingle").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        inv.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.expr(
                "GREATEST(CAST(ROUND(ln(n_docs / df) * 1e6, 0) AS BIGINT),"
                " CAST(0 AS BIGINT))"
            ).alias("idf_micro"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("idf_micro").desc(), F.col("term").asc()
    )
    qterms = (
        inv.where(F.col("doc_id") % probe_mod == 0)
        .select(F.col("doc_id").alias("qid"), "term")
        .join(idf, "term")
        .withColumn("qrn", F.row_number().over(wq))
        .where(F.col("qrn") <= q_tokens)
        .select("qid", "term")
    )
    scored = (
        inv.join(idf, "term")
        .join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf_micro")).alias("score"))
        .where(F.col("score") > 0)
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    hits = (
        scored.withColumn("rank", F.row_number().over(w))
        .where((F.col("doc_id") == F.col("qid")) & (F.col("rank") <= topk))
        .select("qid", "rank")
    )
    probes = docs.where(F.col("doc_id") % probe_mod == 0).select(
        F.col("doc_id").alias("qid")
    )
    return probes.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("rank"), F.lit(0)).cast("long").alias("rank"),
        F.coalesce(
            F.expr("1000000 div rank"), F.lit(0)
        ).cast("long").alias("rr_ppm"),
    )


def known_item_mrr_oracle(
    probe_mod: int = 25, q_tokens: int = 4, topk: int = 10
) -> str:
    from cloudpelican_lsd_spark.operators.dedup import shingles_oracle_cte

    # compose the shared n=2 shingle CTE; tf needs duplicate-preserving
    # counts, so ki_inv aggregates the kipos intermediate (kish is the
    # DISTINCT view) with the same inclusive-slice term expression
    return f"""WITH {shingles_oracle_cte(2, "documents", "ki")},
ki_inv AS (
  SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS term,
         COUNT(*)::BIGINT AS tf
  FROM kipos GROUP BY doc_id, term
),
ki_n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
ki_idf AS (
  SELECT term,
         GREATEST(CAST(ROUND(ln(n_docs / COUNT(*)) * 1e6, 0) AS BIGINT),
                  0) AS idf_micro
  FROM ki_inv, ki_n GROUP BY term, n_docs
),
ki_q AS (
  SELECT qid, term FROM (
    SELECT i.doc_id AS qid, i.term,
           row_number() OVER (PARTITION BY i.doc_id
                              ORDER BY d.idf_micro DESC, i.term ASC) AS qrn
    FROM ki_inv i JOIN ki_idf d USING (term)
    WHERE i.doc_id % {probe_mod} = 0
  ) WHERE qrn <= {q_tokens}
),
ki_scored AS (
  SELECT q.qid, i.doc_id, SUM(i.tf * d.idf_micro)::BIGINT AS score
  FROM ki_inv i JOIN ki_idf d USING (term) JOIN ki_q q USING (term)
  GROUP BY q.qid, i.doc_id
  HAVING SUM(i.tf * d.idf_micro) > 0
),
ki_hits AS (
  SELECT qid, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM ki_scored
  ) WHERE doc_id = qid AND rank <= {topk}
)
SELECT p.doc_id AS qid,
       COALESCE(h.rank, 0)::BIGINT AS rank,
       COALESCE(1000000 // h.rank, 0)::BIGINT AS rr_ppm
FROM documents p LEFT JOIN ki_hits h ON h.qid = p.doc_id
WHERE p.doc_id % {probe_mod} = 0"""


# ---------------------------------------------------------------------------
# character-level Shannon entropy — compression-style quality signal
# ---------------------------------------------------------------------------


def char_entropy(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_chars_obs, n_distinct_chars, entropy_bits)` — per-document
    character-level Shannon entropy in bits, the classic "is this text or
    line noise" quality gate (low entropy = repeated boilerplate, high
    entropy = encrypted/binary junk; CCNet and Gopher both threshold on
    compression-ratio proxies of exactly this shape).

    H = log2(n) - (1/n) * Σ_c cnt_c·ln(cnt_c)/ln(2), computed from exact
    per-character counts.  Cross-engine determinism: the Σ cnt·ln(cnt)
    reduction is done over per-term `ROUND(·, 6)` values summed as
    DECIMAL(25,6) — decimal addition is exact and order-independent, so
    Spark's partition-order sum and DuckDB's scan-order sum agree bit-for-
    bit (a raw double SUM would drift by summation order).  Physical
    shape: one scan → transform+explode (codegen) → two hash aggregates
    keyed by (doc_id, ch) then doc_id; scales linearly in corpus bytes
    and shuffles only (doc_id, ch, cnt) rows, never the raw text.

    Ref parity note: the reference has no entropy op; this is a north-star
    training-pipeline addition (quality scoring family, SURVEY §2 text
    analysis).
    """
    # split('') explodes straight to code points in one O(len) pass —
    # the position-transform alternative (substring(text, i, 1) per i)
    # re-seeks the UTF-8 byte offset each call, O(len²) per document
    # (measured 2.3s → this shape at sf0.1; the stress probe's 10×
    # corpus was ~4× faster).  Caveat: split('', '') is [''] (ONE empty
    # element, invisible in show()), so the post-explode ch != '' filter
    # is what makes zero-length docs drop out — matching the DuckDB
    # oracle, whose generate_series(1, 0) is empty.
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).where(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    agg = per_char.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        F.sum(
            F.round(F.col("cnt") * F.log(F.col("cnt")), 6).cast("decimal(25,6)")
        ).alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars_obs"),
        "n_distinct_chars",
        F.round(
            (F.log(F.col("n")) - F.col("s").cast("double") / F.col("n"))
            / F.lit(0.6931471805599453),
            6,
        ).alias("entropy_bits"),
    )


CHAR_ENTROPY_ORACLE = """\
WITH ce_chars AS (
  SELECT d.doc_id, substring(d.text, u.i, 1) AS ch
  FROM documents d, unnest(generate_series(1, length(d.text)::BIGINT)) AS u(i)
),
ce_cnt AS (
  SELECT doc_id, ch, COUNT(*)::BIGINT AS cnt FROM ce_chars GROUP BY 1, 2
),
ce_agg AS (
  SELECT doc_id, SUM(cnt)::BIGINT AS n, COUNT(*)::BIGINT AS n_distinct_chars,
         SUM(CAST(ROUND(cnt * ln(cnt), 6) AS DECIMAL(25,6))) AS s
  FROM ce_cnt GROUP BY 1
)
SELECT doc_id, n AS n_chars_obs, n_distinct_chars,
       ROUND((ln(n) - s::DOUBLE / n) / 0.6931471805599453, 6) AS entropy_bits
FROM ce_agg"""


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV rate vs a corpus-derived top-V vocab
# ---------------------------------------------------------------------------


def vocab_coverage(docs: DataFrame, vocab_size: int = 100) -> DataFrame:
    """`(source, total_tokens, covered_tokens, oov_tokens, covered_frac)` —
    per-source coverage of a corpus-wide top-`vocab_size` token vocabulary
    (count desc, token asc tiebreak): the OOV-rate report a tokenizer/vocab
    decision is made from (which sources will fragment into unknowns).

    Physical shape: ONE explode → ONE (source, token) hash aggregate; the
    corpus-wide vocabulary is re-aggregated from that same small relation
    (never a second text scan) and broadcast back as a left-semi-style
    membership flag, so the raw corpus is read exactly once and everything
    downstream operates on (source, token, cnt) rows.  At 100 TB the
    (source, token) aggregate is the only token-cardinality shuffle; the
    top-V vocab is bounded (V rows) and broadcast.
    """
    tc = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    global_counts = tc.groupBy("token").agg(F.sum("cnt").alias("gcnt"))
    # top-V via TakeOrderedAndProject (distributed per-partition top-V then
    # driver merge of V-bounded heaps), NOT a global row_number window —
    # the window form moves the whole token-cardinality relation to one
    # partition at 100 TB.
    vocab = (
        global_counts.orderBy(F.col("gcnt").desc(), F.col("token").asc())
        .limit(vocab_size)
        .select("token")
    )
    flagged = tc.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "token", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNotNull(), F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("covered_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "covered_tokens",
            (F.col("total_tokens") - F.col("covered_tokens")).alias("oov_tokens"),
            F.round(F.col("covered_tokens") / F.col("total_tokens"), 6).alias(
                "covered_frac"
            ),
        )
    )


def vocab_coverage_oracle(vocab_size: int = 100) -> str:
    return f"""WITH vc_tok AS (
  SELECT d.source, u.token
  FROM documents d, unnest(string_split(lower(d.text), ' ')) AS u(token)
),
vc_tc AS (
  SELECT source, token, COUNT(*)::BIGINT AS cnt FROM vc_tok GROUP BY 1, 2
),
vc_vocab AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY SUM(cnt) DESC, token ASC) AS rn
    FROM vc_tc GROUP BY token
  ) WHERE rn <= {vocab_size}
),
vc_agg AS (
  SELECT t.source, SUM(t.cnt)::BIGINT AS total_tokens,
         SUM(CASE WHEN v.token IS NOT NULL THEN t.cnt ELSE 0 END)::BIGINT
             AS covered_tokens
  FROM vc_tc t LEFT JOIN vc_vocab v USING (token)
  GROUP BY t.source
)
SELECT source, total_tokens, covered_tokens,
       (total_tokens - covered_tokens)::BIGINT AS oov_tokens,
       ROUND(covered_tokens / total_tokens, 6) AS covered_frac
FROM vc_agg"""


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


def dsir_weights(
    docs: DataFrame, target_lang: str = "en", buckets: int = 256
) -> DataFrame:
    """`(doc_id, n_feats, dsir_score_micro, prefer_target)` — DSIR
    importance weights (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): hashed word-bigram bag-of-features
    log-likelihood ratio between a target distribution (here the
    ``target_lang`` slice) and the raw corpus, the score used to resample
    raw data toward a target domain.

    score(d) = Σ_f cnt_d(f) · [ln p̂_tgt(f) − ln p̂_raw(f)] with add-one
    smoothing over `buckets` hashed features.  Determinism: the per-bucket
    log-ratio is computed once on the (tiny) bucket table, scaled to
    integer MICRO-units (`round(·×10⁶)` — same libm ln on identical
    doubles both engines), and the per-doc reduction is then pure BIGINT
    arithmetic — no float accumulation anywhere.  Feature hash =
    md5-prefix mod buckets (the engine-portable hash used by the CDC /
    bloom family).

    Scale shape: DSIR is inherently two-pass (fit the ratio estimator,
    then score) — pass 1 collapses map-side to (bucket, lang) ≤ 256×|langs|
    rows; pass 2 is one (doc_id, bucket) hash aggregate joined to the
    broadcast 256-row weight table.  At 100 TB you'd persist pass 1's
    weight table and this plan's only corpus-sized work is one shingle
    scan + one doc-bucket aggregate.
    """
    from cloudpelican_lsd_spark.operators.dedup import _spread, shingle_rows

    bucket = F.expr(
        f"CAST(conv(substring(md5(shingle), 1, 8), 16, 10) AS BIGINT) % {buckets}"
    )
    rows = shingle_rows(_spread(docs), 2, carry=("lang",)).select(
        "doc_id", "lang", bucket.alias("b")
    )
    # pass 1: bucket-level target/raw counts (map-side combine to ≤256·|langs|)
    bl = rows.groupBy("b", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    per_bucket = bl.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == target_lang, F.col("cnt")).otherwise(0)).alias(
            "t_cnt"
        ),
        F.sum("cnt").alias("r_cnt"),
    )
    totals = per_bucket.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        "b",
        F.expr(
            f"CAST(round((ln((t_cnt + 1.0) / (t_tot + {buckets}))"
            f" - ln((r_cnt + 1.0) / (r_tot + {buckets}))) * 1000000, 0) AS BIGINT)"
        ).alias("w_micro"),
    )
    # pass 2: per-doc bucket counts × broadcast weights, all-integer
    db = rows.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        db.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("w_micro")).cast("long").alias(
                "dsir_score_micro"
            ),
        )
        .withColumn("prefer_target", F.col("dsir_score_micro") > 0)
    )


def dsir_weights_oracle(target_lang: str = "en", buckets: int = 256) -> str:
    from cloudpelican_lsd_spark.operators.dedup import shingles_oracle_cte

    return f"""WITH {shingles_oracle_cte(2, "documents", "dw")},
dw_rows AS (
  SELECT p.doc_id, d.lang,
         CAST(('0x' || substring(md5(array_to_string(p.toks[p.i : p.i + 1], ' ')), 1, 8))
              AS BIGINT) % {buckets} AS b
  FROM dwpos p JOIN documents d USING (doc_id)
),
dw_bucket AS (
  SELECT b,
         SUM(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END)::BIGINT AS t_cnt,
         COUNT(*)::BIGINT AS r_cnt
  FROM dw_rows GROUP BY b
),
dw_tot AS (
  SELECT SUM(t_cnt)::BIGINT AS t_tot, SUM(r_cnt)::BIGINT AS r_tot FROM dw_bucket
),
dw_w AS (
  SELECT b,
         CAST(ROUND((ln((t_cnt + 1.0) / (t_tot + {buckets}))
                    - ln((r_cnt + 1.0) / (r_tot + {buckets}))) * 1000000, 0)
              AS BIGINT) AS w_micro
  FROM dw_bucket, dw_tot
),
dw_db AS (
  SELECT doc_id, b, COUNT(*)::BIGINT AS cnt FROM dw_rows GROUP BY 1, 2
)
SELECT d.doc_id, SUM(d.cnt)::BIGINT AS n_feats,
       SUM(d.cnt * w.w_micro)::BIGINT AS dsir_score_micro,
       (SUM(d.cnt * w.w_micro) > 0) AS prefer_target
FROM dw_db d JOIN dw_w w USING (b)
GROUP BY d.doc_id"""


def lang_confusion(
    docs: DataFrame, threshold_num: int = 1, threshold_den: int = 20
) -> DataFrame:
    """`(true_lang, pred_lang, n_docs)` — confusion matrix of the
    stopword-density language gate against the corpus's labeled `lang`
    column: the evaluation table that justifies (or indicts) using the
    cheap heuristic as a 100 TB pre-filter before an expensive classifier.
    Pure composition: the shared lang_id predicate + one count aggregate
    (map-side combinable; |langs|² output rows)."""
    stop_cnt = stop_count_expr()
    n = F.size(F.split(F.col("text"), " "))
    return (
        docs.select(
            F.col("lang").alias("true_lang"),
            F.when(
                stop_cnt * threshold_den >= n * threshold_num, F.lit("en")
            )
            .otherwise(F.lit("other"))
            .alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def lang_confusion_oracle(
    threshold_num: int = 1, threshold_den: int = 20
) -> str:
    return f"""SELECT lang AS true_lang,
       CASE WHEN {stop_count_sql()} * {threshold_den}
                 >= len(string_split(text, ' ')) * {threshold_num}
            THEN 'en' ELSE 'other' END AS pred_lang,
       COUNT(*)::BIGINT AS n_docs
FROM documents GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# PMI co-occurrence pairs — collocation discovery over a bounded vocab
# ---------------------------------------------------------------------------


def pmi_pairs(
    docs: DataFrame, vocab_size: int = 50, min_co_df: int = 2
) -> DataFrame:
    """`(tok_a, tok_b, co_df, df_a, df_b, pmi_micro)` — document-level
    pointwise mutual information for every pair of top-`vocab_size`
    tokens co-occurring in ≥ `min_co_df` documents:
    ``PMI = ln(co_df·N / (df_a·df_b))`` in integer micro-units — the
    collocation/phrase-discovery table (and a topic-drift signal when
    diffed across snapshots).

    Scale discipline: the pair space is VOCAB-bounded, not corpus-
    bounded.  Tokens are cut to the top-V by document frequency first
    (TakeOrderedAndProject + broadcast semi-join), so each document
    contributes ≤ V(V−1)/2 pairs from a ≤V-element distinct set, and the
    co-df aggregate is ≤ V² rows.  All counts are exact BIGINTs; ln runs
    once per output row on identical integer inputs (micro-rounded).
    """
    from cloudpelican_lsd_spark.operators.dedup import _group_pairs, _spread

    toks = (
        _spread(docs)
        .select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .distinct()
    )
    df_tbl = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = (
        df_tbl.orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(vocab_size)
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    vt = toks.join(F.broadcast(vocab), "tok").select("doc_id", "tok", "df")
    pairs = _group_pairs(vt, ["doc_id"], ["tok", "df"]).select(
        F.col("x.tok").alias("tok_a"),
        F.col("x.df").alias("df_a"),
        F.col("y.tok").alias("tok_b"),
        F.col("y.df").alias("df_b"),
    )
    co = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("long").alias("co_df"),
        F.max("df_a").cast("long").alias("df_a"),
        F.max("df_b").cast("long").alias("df_b"),
    )
    return (
        co.where(F.col("co_df") >= min_co_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "co_df",
            "df_a",
            "df_b",
            # ratio assembled in DOUBLE: at billion-doc corpora the
            # BIGINT products co_df·n and df_a·df_b pass 2^63 (top-df
            # vocab tokens have df ≈ N); doubles hold these exactly up
            # to 2^53 per factor and identically on both engines
            F.expr(
                "CAST(round(ln((CAST(co_df AS DOUBLE) * n)"
                " / (CAST(df_a AS DOUBLE) * df_b)) * 1000000, 0)"
                " AS BIGINT)"
            ).alias("pmi_micro"),
        )
    )


def pmi_pairs_oracle(vocab_size: int = 50, min_co_df: int = 2) -> str:
    return f"""WITH pm_tok AS (
  SELECT DISTINCT d.doc_id, u.tok
  FROM documents d, unnest(string_split(lower(d.text), ' ')) AS u(tok)
),
pm_df AS (SELECT tok, COUNT(*)::BIGINT AS df FROM pm_tok GROUP BY tok),
pm_vocab AS (
  SELECT tok, df FROM pm_df ORDER BY df DESC, tok ASC LIMIT {vocab_size}
),
pm_n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
pm_vt AS (
  SELECT t.doc_id, t.tok, v.df FROM pm_tok t JOIN pm_vocab v USING (tok)
),
pm_pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*)::BIGINT AS co_df,
         MAX(a.df)::BIGINT AS df_a, MAX(b.df)::BIGINT AS df_b
  FROM pm_vt a JOIN pm_vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT tok_a, tok_b, co_df, df_a, df_b,
       CAST(ROUND(ln((co_df::DOUBLE * n) / (df_a::DOUBLE * df_b)) * 1000000, 0)
            AS BIGINT) AS pmi_micro
FROM pm_pairs, pm_n
WHERE co_df >= {min_co_df}"""


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """`(doc_id, n_shingles, n_novel, novelty_ppm)` — what fraction of a
    document's DISTINCT word n-grams appear here FIRST (no lower doc_id
    contains them): the curriculum/data-ordering signal ("is the stream
    still contributing new text?") and the per-document twin of the
    corpus-level yield curve.  A doc full of already-seen n-grams is
    boilerplate or near-dup; early docs score high by construction.

    One shingle pipeline → per-(shingle) MIN(doc_id) — an inverted-index
    aggregate reused as a broadcast-free second aggregate keyed by the
    claiming doc: novelty counting needs NO join at all (the min row IS
    the first occurrence), just two map-side-combinable aggregations.
    Per-doc distinct sizes ride the same xxhash64-set trick as the
    Jaccard family.
    """
    from cloudpelican_lsd_spark.operators.dedup import doc_shingle_hash_rows

    sh = doc_shingle_hash_rows(docs, n).withColumnRenamed("sh_h", "h")
    firsts = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    sizes = sh.groupBy("doc_id").agg(F.max("sz").cast("long").alias("n_shingles"))
    return sizes.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.expr(
            "CAST(coalesce(n_novel, 0L) * 1000000 div n_shingles AS BIGINT)"
        ).alias("novelty_ppm"),
    )


def ngram_novelty_oracle(n: int = 3) -> str:
    from cloudpelican_lsd_spark.operators.dedup import shingles_oracle_cte

    return f"""WITH {shingles_oracle_cte(n, "documents", "nv")},
nv_first AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM nvsh GROUP BY shingle
),
nv_novel AS (
  SELECT first_doc AS doc_id, COUNT(*)::BIGINT AS n_novel
  FROM nv_first GROUP BY first_doc
),
nv_sizes AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_shingles FROM nvsh GROUP BY doc_id
)
SELECT s.doc_id, s.n_shingles,
       COALESCE(v.n_novel, 0)::BIGINT AS n_novel,
       CAST(COALESCE(v.n_novel, 0) * 1000000 // s.n_shingles AS BIGINT)
           AS novelty_ppm
FROM nv_sizes s LEFT JOIN nv_novel v USING (doc_id)"""


# ---------------------------------------------------------------------------
# Gopher repetition panel (Rae et al. 2021, Table A1)
# ---------------------------------------------------------------------------

#: Rae et al. 2021 Table A1 removal thresholds: a document fails the
#: repetition gate when any signal EXCEEDS its threshold.  (Paragraph
#: rows are served by the line rows here: the corpus's derived unit of
#: structure is the line — see gopher_repetition.)
GOPHER_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

#: top-n-gram tie-break encoding: key = count * _GOPHER_LEN_M + length;
#: valid while every n-gram is shorter than _GOPHER_LEN_M characters
#: (the engine's 4096-char normalize cap guarantees it).
_GOPHER_LEN_M = 100_000


def gopher_repetition(docs: DataFrame, co_partition: bool = True) -> DataFrame:
    """`(doc_id, dup_line_frac, dup_line_char_frac, top_{2,3,4}gram_char_frac,
    dup_{5..10}gram_char_frac, pass_gopher)` — the full Gopher repetition
    panel (Rae et al. 2021 Table A1): the production quality gate MassiveText,
    RefinedWeb and most open corpus pipelines apply before training.

    Inputs: `text` with '\\n' line structure (corpora without natural
    lines derive them via :func:`split_into_lines`, the registry path).
    Signal definitions (documented exactly because open reproductions
    vary):

    - ``dup_line_frac`` — occurrences beyond the first of each distinct
      line / total lines; ``dup_line_char_frac`` — same, char-weighted.
      The corpus's one structural unit stands in for both the paper's
      line AND paragraph rows.
    - ``top_ngram_char_frac`` (n=2..4) — count(top n-gram) * len(top
      n-gram) / doc chars, where "top" is the most frequent word n-gram,
      ties broken to the longest (integer key `c * 100000 + len`, so the
      tie-break is engine-exact, never a float argmax).
    - ``dup_ngram_char_frac`` (n=5..10) — sum over n-grams seen more
      than once of (count-1) * len / doc chars: characters in repeated
      occurrences beyond the first (the standard non-overlap-corrected
      approximation).
    - ``pass_gopher`` — 1 iff every rounded signal is at or under its
      Table A1 threshold (:data:`GOPHER_THRESHOLDS`).

    100 TB shape: ONE n-gram chain serves all nine n's — a single scan
    position-explodes tokens once into (doc_id, n, gram) rows (~9x token
    stream, the same order as running the n's separately but one pass
    over the text), partial-aggregates map-side, and reduces per (doc,n)
    then per doc; the line chain is a second, far smaller explode.  All
    joins are doc_id-keyed co-partitions; nothing unbounded broadcasts.
    Fractions are single BIGINT/BIGINT double divisions rounded to 6
    decimals — both engines divide identical exact integers, so the
    hashes can't drift.

    Partitioning (r8, guide §2.4): every aggregation and join in the
    panel is keyed by doc_id or a doc_id-superset key, and each input
    row is one whole document — so ONE upfront
    ``repartition("doc_id")`` of the compact (doc_id, text) rows
    satisfies the clustering requirement of all five downstream
    aggregations and both joins.  Before this, each groupBy exchanged
    its own exploded stream: the (doc,n,gram) shuffle alone is ~9x the
    token stream.  Now the only exchange carries the corpus text once;
    the gram/line streams never cross the network (explode is
    partition-local), and the aggregates run single-phase (no
    partial/merge double hashing).  Pass ``co_partition=False`` when
    the input is ALREADY hash-partitioned by doc_id (e.g. the v4
    capstone feeds the line_dedup output, whose final aggregate ends
    doc_id-partitioned) — the repartition would be a pure extra
    exchange of the corpus there (measured +10% on corpus_clean_v4).
    """
    base = docs.select("doc_id", F.col("text")).where(F.length("text") > 0)
    if co_partition:
        base = keyed_repartition(base, "doc_id")
    d = base.select(
        "doc_id",
        "text",
        F.split(F.col("text"), "[ \n]").alias("w"),
        F.length("text").alias("n_chars"),
    )

    # Expression assembly note (r9, guide §7.3 / the jl_audit F.expr
    # technique): every aggregate/projection forest below is ONE SQL
    # string parsed by F.expr / selectExpr instead of a py4j Column
    # chain.  The panel's build cost was measured at ~2400 py4j round
    # trips (frac projection 763, gate 419, ldoc/gn/piv aggs ~550) —
    # pure driver-side construction tax paid by every panel consumer
    # (v4 builds it per invocation).  The parsed ASTs are identical
    # (bit-identity pinned by parity and the panel consistency tests).

    # --- line chain -------------------------------------------------------
    lc = (
        d.select("doc_id", F.explode(F.split("text", "\n")).alias("line"))
        .groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"), F.length("line").alias("l"))
    )
    ldoc = lc.groupBy("doc_id").agg(
        F.expr("CAST(sum(c) AS BIGINT) AS n_lines"),
        F.expr("CAST(sum(c - 1) AS BIGINT) AS dup_lines"),
        F.expr("CAST(sum((c - 1) * l) AS BIGINT) AS dup_line_chars"),
        F.expr("CAST(sum(c * l) AS BIGINT) AS tot_line_chars"),
    )

    # --- fused n-gram chain (n = 2..10 in one explode) ---------------------
    # (measured at sf0.1: this two-explode codegen form beats a single
    # flatten(transform(...)) generator 6.2 s vs 9.6 s — the lambda
    # interpreter costs more than re-shipping `w` through the explodes)
    grams = (
        d.select(
            "doc_id",
            "w",
            F.explode(F.expr("sequence(1, size(w))")).alias("i"),
        )
        .select(
            "doc_id",
            "w",
            "i",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) - i + 1 >= 2"
                    " THEN sequence(2, least(10, size(w) - i + 1))"
                    " ELSE array() END"
                )
            ).alias("n"),
        )
        .select(
            "doc_id",
            "n",
            F.concat_ws(" ", F.expr("slice(w, i, n)")).alias("g"),
        )
    )
    gc = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    gn = gc.groupBy("doc_id", "n").agg(
        F.expr(f"max(c * {_GOPHER_LEN_M} + length(g)) AS topkey"),
        F.expr(
            "sum(CASE WHEN c > 1 THEN (c - 1) * length(g) ELSE 0 END)"
            " AS dupchars"
        ),
    )
    top_chars = f"(topkey DIV {_GOPHER_LEN_M}) * (topkey % {_GOPHER_LEN_M})"
    piv_aggs = [
        F.expr(f"max(CASE WHEN n = {n} THEN {top_chars} END) AS top{n}")
        for n in (2, 3, 4)
    ] + [
        F.expr(f"max(CASE WHEN n = {n} THEN dupchars END) AS dup{n}")
        for n in range(5, 11)
    ]
    piv = gn.groupBy("doc_id").agg(*piv_aggs)

    out = (
        ldoc.join(piv, "doc_id", "left")
        .join(d.select("doc_id", "n_chars"), "doc_id")
    )
    # double literals carry the D suffix: a bare `0.3` parses as DECIMAL
    # in Spark SQL, which would change the comparison/els branch types
    frac_cols = [
        "round(dup_lines / n_lines, 6) AS dup_line_frac",
        "CASE WHEN tot_line_chars = 0 THEN 0.0D"
        " ELSE round(dup_line_chars / tot_line_chars, 6) END"
        " AS dup_line_char_frac",
    ]
    for n in (2, 3, 4):
        frac_cols.append(
            f"round(coalesce(top{n}, 0) / n_chars, 6)"
            f" AS top_{n}gram_char_frac"
        )
    for n in range(5, 11):
        frac_cols.append(
            f"round(coalesce(dup{n}, 0) / n_chars, 6)"
            f" AS dup_{n}gram_char_frac"
        )
    out = out.selectExpr("doc_id", *frac_cols)
    gate = " AND ".join(
        f"{name} <= {thr!r}D" for name, thr in GOPHER_THRESHOLDS.items()
    )
    return out.withColumn("pass_gopher", F.expr(f"CAST(({gate}) AS INT)"))


def gopher_fr_cte(relation: str, prefix: str = "gp") -> str:
    """DuckDB CTE chain over ``relation (doc_id, text)`` whose text
    carries chr(10) line structure (the operator's production input),
    ending in ``{prefix}fr`` with doc_id + the 11 rounded panel
    fractions.  THE one SQL definition of the panel arithmetic — the
    fixture oracle and the v4 capstone gate both compose it, so the
    gate and the audit cannot fork."""
    m = _GOPHER_LEN_M
    g = prefix
    tops = ",\n    ".join(
        f"MAX(CASE WHEN n = {n} THEN (topkey // {m}) * (topkey % {m}) END) AS top{n}"
        for n in (2, 3, 4)
    )
    dups = ",\n    ".join(
        f"MAX(CASE WHEN n = {n} THEN dupchars END) AS dup{n}"
        for n in range(5, 11)
    )
    top_fracs = "\n  ".join(
        f"ROUND(COALESCE(p.top{n}, 0) / d.n_chars, 6) AS top_{n}gram_char_frac,"
        for n in (2, 3, 4)
    )
    dup_fracs = ",\n  ".join(
        f"ROUND(COALESCE(p.dup{n}, 0) / d.n_chars, 6) AS dup_{n}gram_char_frac"
        for n in range(5, 11)
    )
    return f"""{g}d AS (
  SELECT doc_id, string_split(replace(text, chr(10), ' '), ' ') AS w,
         length(text) AS n_chars
  FROM {relation} WHERE length(text) > 0
),
{g}lc AS (
  SELECT doc_id, line, COUNT(*) AS c, length(line) AS l
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        FROM {relation} WHERE length(text) > 0)
  GROUP BY doc_id, line
),
{g}ldoc AS (
  SELECT doc_id, SUM(c)::BIGINT AS n_lines, SUM(c - 1)::BIGINT AS dup_lines,
         SUM((c - 1) * l)::BIGINT AS dup_line_chars,
         SUM(c * l)::BIGINT AS tot_line_chars
  FROM {g}lc GROUP BY doc_id
),
{g}grams AS (
  SELECT doc_id, n, array_to_string(w[i : i + n - 1], ' ') AS g
  FROM {g}d, unnest(generate_series(1, len(w))) AS t1(i),
       unnest(generate_series(2, 10)) AS t2(n)
  WHERE i + n - 1 <= len(w)
),
{g}gc AS (SELECT doc_id, n, g, COUNT(*) AS c, length(g) AS l
       FROM {g}grams GROUP BY doc_id, n, g),
{g}gn AS (
  SELECT doc_id, n, MAX(c * {m} + l) AS topkey,
         SUM(CASE WHEN c > 1 THEN (c - 1) * l ELSE 0 END) AS dupchars
  FROM {g}gc GROUP BY doc_id, n
),
{g}piv AS (
  SELECT doc_id,
    {tops},
    {dups}
  FROM {g}gn GROUP BY doc_id
),
{g}fr AS (
SELECT ld.doc_id,
  ROUND(ld.dup_lines / ld.n_lines, 6) AS dup_line_frac,
  CASE WHEN ld.tot_line_chars = 0 THEN 0.0
       ELSE ROUND(ld.dup_line_chars / ld.tot_line_chars, 6)
  END AS dup_line_char_frac,
  {top_fracs}
  {dup_fracs}
FROM {g}ldoc ld JOIN {g}d d USING (doc_id) LEFT JOIN {g}piv p USING (doc_id)
)"""


def gopher_pass_sql() -> str:
    """The Table A1 gate as one SQL boolean over the fr columns."""
    return " AND ".join(
        f"{name} <= {thr}" for name, thr in GOPHER_THRESHOLDS.items()
    )


def gopher_repetition_oracle(words_per_line: int = 10) -> str:
    """DuckDB twin of :func:`gopher_repetition` over the
    ``words_per_line``-derived line view of `documents` (the registry
    fixture path; the operator itself consumes real chr(10) lines).
    Composes :func:`gopher_fr_cte` — the same CTE body the v4 capstone
    gates on."""
    wpl = int(words_per_line)
    lined = f"""lined AS (
  SELECT doc_id,
         array_to_string(list_transform(
           generate_series(0, CAST(ceil(len(string_split(text, ' ')) / {wpl}.0)
                                  AS BIGINT) - 1),
           i -> array_to_string((string_split(text, ' '))[i*{wpl}+1 : i*{wpl}+{wpl}],
                                ' ')), chr(10)) AS text
  FROM documents
)"""
    return f"""WITH {lined},
{gopher_fr_cte("lined", "gp")}
SELECT doc_id, dup_line_frac, dup_line_char_frac,
       top_2gram_char_frac, top_3gram_char_frac, top_4gram_char_frac,
       dup_5gram_char_frac, dup_6gram_char_frac, dup_7gram_char_frac,
       dup_8gram_char_frac, dup_9gram_char_frac, dup_10gram_char_frac,
       CAST(({gopher_pass_sql()}) AS INT) AS pass_gopher
FROM gpfr"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# local document-fingerprinting algorithm)
# ---------------------------------------------------------------------------

#: position tie-break modulus for the winnowing window-min key:
#: key = hash * _WINNOW_M + (_WINNOW_M - position).  2^31 supports any
#: document up to 2^31-1 k-gram positions with no silent tie-break
#: corruption (hash < 2^28, so key < 2^59 — no BIGINT overflow); the
#: decoded (hash, pos) selection is independent of M for any M > max
#: position, so widening M changes no output.
_WINNOW_M = 2_147_483_648


def winnowing_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """`(doc_id, fph, fpos)` — winnowing-selected k-gram fingerprints
    (Schleimer et al. 2003, the MOSS algorithm): in every window of `w`
    consecutive char-k-gram hashes keep the minimum, ties to the
    RIGHTMOST occurrence.  Guarantee: any substring match of length
    >= w + k - 1 between two documents shares at least one selected
    fingerprint; expected density 2/(w+1) of positions.

    Selection is relational, not sequential: hash and position are
    packed into one integer key (`h * 8192 + (8192 - pos)`, so MIN(key)
    = min hash with ties to the largest position), a per-doc window MIN
    over ``ROWS BETWEEN CURRENT AND w-1 FOLLOWING`` evaluates every
    window in one pass, and DISTINCT over the decoded (hash, pos) keeps
    each selected fingerprint once.  Docs shorter than w k-grams form a
    single window (the frame truncates at the partition end).

    100 TB shape: the explode is ~len(text) rows per doc but every
    window is PARTITIONED BY doc_id and bounded by the 4096-char cap —
    no global window, no shuffle wider than the token stream; the
    per-position md5 recompute trades CPU for exact cross-engine
    reproducibility and embarrassing parallelism (same trade as
    cdc_chunks; a true rolling hash only helps a sequential scanner).

    Partitioning (r8, guide §2.4): the window, the trailing DISTINCT,
    and every doc-keyed aggregate/join a caller adds (density counts,
    pair totals) require clustering by doc_id or a superset — so ONE
    upfront ``repartition("doc_id")`` of the compact (doc_id, text)
    rows replaces the per-position exchange the window otherwise
    inserts: the ~len(text)-per-doc key stream stays partition-local
    and only the corpus text crosses the network, once.
    """
    from pyspark.sql import Window

    m = _WINNOW_M
    d = (
        docs.select(
            "doc_id",
            F.col(text_col).alias("text"),
            (F.length(text_col) - k + 1).alias("L"),
        )
        .where(F.col("L") >= 1)
    )
    d = keyed_repartition(d, "doc_id")
    pos = d.select(
        "doc_id",
        "L",
        F.explode(F.expr("sequence(1, L)")).alias("i"),
        F.col("text"),
    ).select(
        "doc_id",
        "L",
        "i",
        (
            F.conv(F.substring(F.md5(F.expr(f"substring(text, i, {k})")), 1, 7), 16, 10)
            .cast("long") * m + (m - F.col("i"))
        ).alias("key"),
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, w - 1)
    wmin = pos.select(
        "doc_id", "L", "i", F.min("key").over(win).alias("kmin")
    )
    return (
        wmin.where(F.col("i") <= F.greatest(F.col("L") - (w - 1), F.lit(1)))
        .select(
            "doc_id",
            F.expr(f"kmin DIV {m}").alias("fph"),
            (F.lit(m) - F.expr(f"kmin % {m}")).alias("fpos"),
        )
        .distinct()
    )


def winnowing_fp_cte(k: int = 8, w: int = 4, table: str = "documents") -> str:
    """DuckDB CTE chain ending in ``fp (doc_id, fph, fpos)`` — the oracle
    twin of :func:`winnowing_fingerprints`."""
    m = _WINNOW_M
    return f"""d AS (
  SELECT doc_id, text, length(text) - {k} + 1 AS L FROM {table}
  WHERE length(text) >= {k}
),
pos AS (
  SELECT doc_id, L, i,
         CAST(('0x' || substring(md5(substring(text, i, {k})), 1, 7)) AS BIGINT)
           * {m} + ({m} - i) AS key
  FROM d, unnest(generate_series(1, L)) AS t(i)
),
wmin AS (
  SELECT doc_id, L, i,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS kmin
  FROM pos
),
fp AS (
  SELECT DISTINCT doc_id, kmin // {m} AS fph, {m} - (kmin % {m}) AS fpos
  FROM wmin WHERE i <= greatest(L - {w - 1}, 1)
)"""


def winnowing_density(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """`(doc_id, n_kgrams, n_windows, n_fingerprints, n_distinct_hashes,
    density)` — the per-document winnowing audit: selected-fingerprint
    density versus the paper's expected 2/(w+1) of windows (an
    implementation returning 1/w — one per window with no cross-window
    sharing — or ~1.0 — no windowing at all — fails loudly here).
    Plan: the fingerprint chain plus one doc-keyed count agg and a
    broadcast-sized join back to per-doc lengths."""
    fp = winnowing_fingerprints(docs, k=k, w=w)
    per_doc = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.countDistinct("fph").alias("n_distinct_hashes"),
    )
    lens = docs.select(
        "doc_id", (F.length("text") - k + 1).alias("n_kgrams")
    ).where(F.col("n_kgrams") >= 1)
    return (
        lens.join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.col("n_kgrams").cast("long").alias("n_kgrams"),
            F.greatest(F.col("n_kgrams") - (w - 1), F.lit(1))
            .cast("long")
            .alias("n_windows"),
            F.col("n_fingerprints").cast("long").alias("n_fingerprints"),
            F.col("n_distinct_hashes").cast("long").alias("n_distinct_hashes"),
        )
        .withColumn(
            "density",
            F.round(F.col("n_fingerprints") / F.col("n_windows"), 6),
        )
    )


def winnowing_density_oracle(k: int = 8, w: int = 4) -> str:
    return f"""WITH {winnowing_fp_cte(k, w)},
per_doc AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_fingerprints,
         COUNT(DISTINCT fph)::BIGINT AS n_distinct_hashes
  FROM fp GROUP BY doc_id
)
SELECT d.doc_id, d.L::BIGINT AS n_kgrams,
       greatest(d.L - {w - 1}, 1)::BIGINT AS n_windows,
       p.n_fingerprints, p.n_distinct_hashes,
       ROUND(p.n_fingerprints / greatest(d.L - {w - 1}, 1), 6) AS density
FROM d JOIN per_doc p USING (doc_id)"""


def winnowing_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    max_df: int = 8,
    min_shared: int = 3,
    materialize_fp: bool = False,
) -> DataFrame:
    """`(doc_a, doc_b, shared_fp, n_fp_a, n_fp_b, moss_sim)` — MOSS-style
    plagiarism/overlap candidates: document pairs sharing >= `min_shared`
    winnowed fingerprint hashes, scored `shared_fp / min(n_fp_a, n_fp_b)`
    over each side's distinct-hash total.

    `max_df` drops fingerprints present in more than that many documents
    before pairing (boilerplate k-grams — navigation chrome, licence
    headers — would otherwise quadratically explode the join, the same
    df-pruning discipline as dedup_jaccard_df_pruned), so `shared_fp`
    counts RARE shared hashes and `moss_sim` is a lower bound on the
    unpruned MOSS score — the production trade every fingerprint-join
    system makes.

    100 TB shape: the fingerprint table is ~2/(w+1) of the char stream;
    ONE hash-keyed exchange serves the df count and both join probes
    (ReuseExchange), the pair aggregate is keyed on compact (BIGINT,
    BIGINT), and nothing all-pairs ever materializes — worst-case join
    fan-out per hash is max_df².

    Partitioning (r8): ``docfp`` feeds FOUR consumers (df count, both
    join probes, per-doc totals).  Without an explicit exchange right
    after the distinct, each consumer re-plans the whole fingerprint
    chain (explode + per-position md5 + window) and only the slice
    below that chain's own exchange is runtime-reused — the md5 work
    ran once per consumer.  One ``repartition("fph")`` of the compact
    (doc_id, fph) set makes THE exchange every consumer hangs off:
    AQE stage reuse computes the chain once, and fph is exactly the
    clustering the df count and both probes need, so they add no
    further exchange; totals re-keys the compact set by doc_id only.

    ``materialize_fp=True`` (r8) localCheckpoints the compact docfp set
    instead of relying on runtime exchange reuse.  Callers that consume
    the pair graph through an RDD materialization — connected
    components' pair checkpoint — do NOT get AQE's ReusedExchange
    (measured sf0.1: the md5 fingerprint chain ran three times inside
    dedup_winnowing_clusters' pair-materialization job, ~52 s of its
    85 s task time; the static reuse rule fails once column pruning
    differentiates the consumer exchanges).  The checkpoint computes
    the chain exactly once at any scale; the default stays lazy because
    the plain noop/collect consumers DO get runtime reuse and a
    checkpoint barrier there is pure overhead (the
    dedup_winnowing_pairs A/B of record).
    """
    fp = winnowing_fingerprints(docs, k=k, w=w)
    docfp = keyed_repartition(fp.select("doc_id", "fph").distinct(), "fph")
    if materialize_fp:
        docfp = docfp.transform(materialize)
    totals = docfp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    rare = (
        docfp.groupBy("fph")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("fph")
    )
    a = docfp.join(rare, "fph").select(F.col("doc_id").alias("doc_a"), "fph")
    b = docfp.select(F.col("doc_id").alias("doc_b"), "fph")
    pairs = (
        a.join(b, "fph")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .where(F.col("shared_fp") >= min_shared)
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("shared_fp").cast("long").alias("shared_fp"),
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.col("n_fp_b").cast("long").alias("n_fp_b"),
            F.round(
                F.col("shared_fp") / F.least(F.col("n_fp_a"), F.col("n_fp_b")), 6
            ).alias("moss_sim"),
        )
    )


def winnowing_pairs_oracle(
    k: int = 8, w: int = 4, max_df: int = 8, min_shared: int = 3
) -> str:
    return f"""WITH {winnowing_fp_cte(k, w)},
docfp AS (SELECT DISTINCT doc_id, fph FROM fp),
totals AS (SELECT doc_id, COUNT(*)::BIGINT AS n_fp FROM docfp GROUP BY doc_id),
rare AS (SELECT fph FROM docfp GROUP BY fph HAVING COUNT(*) <= {max_df}),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS shared_fp
  FROM docfp a JOIN rare r ON a.fph = r.fph
  JOIN docfp b ON a.fph = b.fph AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
)
SELECT p.doc_a, p.doc_b, p.shared_fp,
       ta.n_fp AS n_fp_a, tb.n_fp AS n_fp_b,
       ROUND(p.shared_fp / least(ta.n_fp, tb.n_fp), 6) AS moss_sim
FROM pairs p
JOIN totals ta ON p.doc_a = ta.doc_id
JOIN totals tb ON p.doc_b = tb.doc_id"""


# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring (the Jelinek-Mercer step up from the
# unigram CCNet stand-in)
# ---------------------------------------------------------------------------

#: Jelinek-Mercer interpolation weight on the bigram ML term; 3/4 is
#: exact in binary so the mixture arithmetic is engine-identical.
BIGRAM_LAMBDA = 0.75


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_tokens, mean_nll_bi_micro, mean_nll_uni_micro,
    lm_gain_micro)` — mean per-token negative log-likelihood in integer
    MICRO-NATS under a Jelinek-Mercer interpolated bigram LM trained on
    the corpus itself:

        p(w_i | w_{i-1}) = 0.75 * c(w_{i-1} w_i)/c(w_{i-1} ·)
                         + 0.25 * c(w_i)/N

    with each document's first token scored by the unigram term alone.
    `mean_nll_uni_micro` is the unigram baseline on the same tokens and
    `lm_gain_micro` their difference — the per-doc micro-nats/token the
    context model saves: near zero for shuffled/degenerate text, large
    for natural prose, which makes the GAIN itself a quality signal the
    unigram model cannot express (CCNet's LM filter intuition, one order
    up).

    Exactness: all probabilities are single double divisions/products of
    exact BIGINT counts (0.75/0.25 are exact binary), per-type costs are
    micro-nat integers via ROUND(-ln(p)*1e6) — the proven unigram_logprob
    convention — and per-doc sums are exact integer sums, so output
    order can't drift the hash.

    100 TB shape: ONE position-explode of the token stream serves both
    the bigram-type counts and the occurrence stream (ReuseExchange on
    the (prev, cur) key); context totals reduce from the bigram types
    (never a second text scan); the cost join back to occurrences is
    (prev, cur)-co-partitioned with the count build.  Unigram costs ride
    the same stream keyed by cur.  Nothing unbounded broadcasts.
    """
    d = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    ).where(F.size("w") >= 1)
    occ = d.select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(w))")).alias("i"),
        F.col("w"),
    ).select(
        "doc_id",
        F.element_at("w", F.col("i")).alias("cur"),
        F.when(F.col("i") > 1, F.element_at("w", F.col("i") - 1)).alias("prev"),
    )
    uni = occ.groupBy("cur").agg(F.count(F.lit(1)).alias("c1"))
    total = uni.agg(F.sum("c1").alias("total"))
    bi = (
        occ.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    ctx = bi.groupBy("prev").agg(F.sum("c2").alias("cprev"))
    ucost = uni.crossJoin(F.broadcast(total)).select(
        "cur",
        F.round(-F.log(F.col("c1") / F.col("total")) * 1e6, 0)
        .cast("long")
        .alias("u_micro"),
    )
    bcost = (
        bi.join(ctx, "prev")
        .join(uni, "cur")
        .crossJoin(F.broadcast(total))
        .select(
            "prev",
            "cur",
            F.round(
                -F.log(
                    F.lit(BIGRAM_LAMBDA) * (F.col("c2") / F.col("cprev"))
                    + F.lit(1 - BIGRAM_LAMBDA) * (F.col("c1") / F.col("total"))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("b_micro"),
        )
    )
    first = (
        occ.where(F.col("prev").isNull())
        .join(ucost, "cur")
        .select("doc_id", F.col("u_micro").alias("bi_micro"), F.col("u_micro").alias("un_micro"))
    )
    rest = (
        occ.where(F.col("prev").isNotNull())
        .join(bcost, ["prev", "cur"])
        .join(ucost, "cur")
        .select("doc_id", F.col("b_micro").alias("bi_micro"), F.col("u_micro").alias("un_micro"))
    )
    # means stay INTEGER micro-nats: (2*sum + n) DIV (2*n) is exact
    # half-up rounding both engines floor identically (positive ints) —
    # a double ROUND(sum/n/1e6, 6) here lands exactly on the .5
    # boundary whenever sum % n == n/2 (~1/n of docs) and Spark's
    # shortest-string HALF_UP vs DuckDB's multiply-based round disagree
    # on which side the nearest double sits; the gain is a difference
    # of the two rounded means, so no negative-division semantics
    # enter.
    return (
        first.unionByName(rest)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bi_micro").alias("sb"),
            F.sum("un_micro").alias("su"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr("(2 * sb + n_tokens) DIV (2 * n_tokens)").alias(
                "mean_nll_bi_micro"
            ),
            F.expr("(2 * su + n_tokens) DIV (2 * n_tokens)").alias(
                "mean_nll_uni_micro"
            ),
        )
        .withColumn(
            "lm_gain_micro",
            F.col("mean_nll_uni_micro") - F.col("mean_nll_bi_micro"),
        )
    )


BIGRAM_LOGPROB_ORACLE = f"""\
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 1
),
occ AS (
  SELECT doc_id, w[i] AS cur,
         CASE WHEN i > 1 THEN w[i - 1] END AS prev
  FROM d, unnest(generate_series(1, len(w))) AS t(i)
),
uni AS (SELECT cur, COUNT(*)::BIGINT AS c1 FROM occ GROUP BY cur),
tot AS (SELECT SUM(c1) AS total FROM uni),
bi AS (
  SELECT prev, cur, COUNT(*)::BIGINT AS c2
  FROM occ WHERE prev IS NOT NULL GROUP BY prev, cur
),
ctx AS (SELECT prev, SUM(c2)::BIGINT AS cprev FROM bi GROUP BY prev),
ucost AS (
  SELECT cur, CAST(ROUND(-ln(c1 / total) * 1e6, 0) AS BIGINT) AS u_micro
  FROM uni CROSS JOIN tot
),
bcost AS (
  SELECT b.prev, b.cur,
         CAST(ROUND(-ln({BIGRAM_LAMBDA} * (b.c2 / x.cprev)
                        + {1 - BIGRAM_LAMBDA} * (u.c1 / t.total)) * 1e6, 0)
              AS BIGINT) AS b_micro
  FROM bi b JOIN ctx x USING (prev) JOIN uni u USING (cur) CROSS JOIN tot t
),
scored AS (
  SELECT o.doc_id, u.u_micro AS bi_micro, u.u_micro AS un_micro
  FROM occ o JOIN ucost u USING (cur) WHERE o.prev IS NULL
  UNION ALL
  SELECT o.doc_id, b.b_micro, u.u_micro
  FROM occ o
  JOIN bcost b ON o.prev = b.prev AND o.cur = b.cur
  JOIN ucost u ON o.cur = u.cur
  WHERE o.prev IS NOT NULL
)
SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
       CAST((2 * SUM(bi_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS mean_nll_bi_micro,
       CAST((2 * SUM(un_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS mean_nll_uni_micro,
       CAST((2 * SUM(un_micro) + COUNT(*)) // (2 * COUNT(*))
            - (2 * SUM(bi_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS lm_gain_micro
FROM scored GROUP BY doc_id"""


#: Kneser-Ney absolute discount — 3/4 is exact in binary64, so the
#: discounted numerator (c2 - 0.75) is an exact double of an exact count.
KN_DISCOUNT = 0.75


def kneser_ney_logprob(docs: DataFrame) -> DataFrame:
    """`(doc_id, n_tokens, mean_nll_kn_micro, mean_nll_uni_micro,
    kn_gain_micro)` — mean per-token NLL in integer micro-nats under an
    interpolated KNESER-NEY bigram LM (Kneser & Ney 1995; the smoothing
    that replaced Jelinek-Mercer in production n-gram stacks):

        p(w|v) = (c(v,w) - D)/c(v·) + (D·T(v)/c(v·)) · P_cont(w)
        P_cont(w) = |{v : c(v,w) > 0}| / |bigram types|

    with D = 3/4 and each document's first token scored by the raw
    unigram term (same convention as `bigram_logprob`, so the two
    models' gains are directly comparable).  The continuation
    probability is what distinguishes KN: a token's backoff mass comes
    from how many CONTEXTS it follows, not how often it occurs — a
    frequent-but-bound token ("Francisco") scores low out of context.

    Exactness: every probability is doubles-of-exact-BIGINT-counts
    combined in one pinned operation order (both engines write the
    identical expression), costs round to integer micro-nats
    (ROUND(-ln(p)*1e6), the proven unigram_logprob convention), per-doc
    means are exact integer (2·sum+n) DIV (2n).  Scoring the training
    corpus itself means every scored bigram is SEEN, so the discounted
    numerator is always >= 0.25 — the max(·,0) clamp never binds and is
    omitted from both engines identically.

    100 TB shape: identical to `bigram_logprob` — one position-explode
    serves occurrences and bigram types; T(v) rides the SAME aggregate
    as c(v·) (one groupBy produces both); the continuation counts are
    one extra reduce of the bigram-type table (types ≪ tokens); nothing
    unbounded broadcasts."""
    d = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    ).where(F.size("w") >= 1)
    occ = d.select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(w))")).alias("i"),
        F.col("w"),
    ).select(
        "doc_id",
        F.element_at("w", F.col("i")).alias("cur"),
        F.when(F.col("i") > 1, F.element_at("w", F.col("i") - 1)).alias("prev"),
    )
    # r8 (guide §2.4/§5): `occ` is a scan+explode with NO exchange, so
    # runtime exchange reuse cannot collapse its consumers — and KN has
    # four of them (uni, bi, first, rest): the corpus was re-scanned,
    # re-lowered and re-exploded per consumer (8 static parquet scans).
    # Materializing the token stream once is the repo's "one token
    # shuffle" doctrine.  Interleaved A/B at sf0.1: 1.76 -> 1.44 s
    # median, 4/4 pairwise.  bigram_logprob measured NEUTRAL under the
    # same change (fewer consumers) and stays lazy.  localCheckpoint
    # locally; reliable checkpoint() on a real cluster.
    occ = occ.transform(materialize)
    uni = occ.groupBy("cur").agg(F.count(F.lit(1)).alias("c1"))
    total = uni.agg(F.sum("c1").alias("total"))
    bi = (
        occ.where(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    # c(v·) and T(v) from ONE aggregate over the bigram types
    ctx = bi.groupBy("prev").agg(
        F.sum("c2").alias("cprev"), F.count(F.lit(1)).alias("ntypes")
    )
    cont = bi.groupBy("cur").agg(F.count(F.lit(1)).alias("nprevs"))
    ttypes = bi.agg(F.count(F.lit(1)).alias("ttypes"))
    ucost = uni.crossJoin(F.broadcast(total)).select(
        "cur",
        F.round(-F.log(F.col("c1") / F.col("total")) * 1e6, 0)
        .cast("long")
        .alias("u_micro"),
    )
    d_ = F.lit(KN_DISCOUNT)
    p_kn = (F.col("c2").cast("double") - d_) / F.col("cprev").cast("double") + (
        d_ * F.col("ntypes").cast("double") / F.col("cprev").cast("double")
    ) * (F.col("nprevs").cast("double") / F.col("ttypes").cast("double"))
    kcost = (
        bi.join(ctx, "prev")
        .join(cont, "cur")
        .crossJoin(F.broadcast(ttypes))
        .select(
            "prev",
            "cur",
            F.round(-F.log(p_kn) * 1e6, 0).cast("long").alias("k_micro"),
        )
    )
    first = (
        occ.where(F.col("prev").isNull())
        .join(ucost, "cur")
        .select(
            "doc_id",
            F.col("u_micro").alias("kn_micro"),
            F.col("u_micro").alias("un_micro"),
        )
    )
    rest = (
        occ.where(F.col("prev").isNotNull())
        .join(kcost, ["prev", "cur"])
        .join(ucost, "cur")
        .select(
            "doc_id",
            F.col("k_micro").alias("kn_micro"),
            F.col("u_micro").alias("un_micro"),
        )
    )
    return (
        first.unionByName(rest)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("kn_micro").alias("sk"),
            F.sum("un_micro").alias("su"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr("(2 * sk + n_tokens) DIV (2 * n_tokens)").alias(
                "mean_nll_kn_micro"
            ),
            F.expr("(2 * su + n_tokens) DIV (2 * n_tokens)").alias(
                "mean_nll_uni_micro"
            ),
        )
        .withColumn(
            "kn_gain_micro",
            F.col("mean_nll_uni_micro") - F.col("mean_nll_kn_micro"),
        )
    )


KNESER_NEY_ORACLE = f"""\
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 1
),
occ AS (
  SELECT doc_id, w[i] AS cur,
         CASE WHEN i > 1 THEN w[i - 1] END AS prev
  FROM d, unnest(generate_series(1, len(w))) AS t(i)
),
uni AS (SELECT cur, COUNT(*)::BIGINT AS c1 FROM occ GROUP BY cur),
tot AS (SELECT SUM(c1) AS total FROM uni),
bi AS (
  SELECT prev, cur, COUNT(*)::BIGINT AS c2
  FROM occ WHERE prev IS NOT NULL GROUP BY prev, cur
),
ctx AS (
  SELECT prev, SUM(c2)::BIGINT AS cprev, COUNT(*)::BIGINT AS ntypes
  FROM bi GROUP BY prev
),
cont AS (SELECT cur, COUNT(*)::BIGINT AS nprevs FROM bi GROUP BY cur),
tt AS (SELECT COUNT(*)::BIGINT AS ttypes FROM bi),
ucost AS (
  SELECT cur, CAST(ROUND(-ln(c1 / total) * 1e6, 0) AS BIGINT) AS u_micro
  FROM uni CROSS JOIN tot
),
kcost AS (
  SELECT b.prev, b.cur,
         CAST(ROUND(-ln(
           (CAST(b.c2 AS DOUBLE) - CAST({KN_DISCOUNT} AS DOUBLE))
             / CAST(x.cprev AS DOUBLE)
           + (CAST({KN_DISCOUNT} AS DOUBLE) * CAST(x.ntypes AS DOUBLE)
              / CAST(x.cprev AS DOUBLE))
             * (CAST(k.nprevs AS DOUBLE) / CAST(t.ttypes AS DOUBLE))
         ) * 1e6, 0) AS BIGINT) AS k_micro
  FROM bi b JOIN ctx x USING (prev) JOIN cont k USING (cur) CROSS JOIN tt t
),
scored AS (
  SELECT o.doc_id, u.u_micro AS kn_micro, u.u_micro AS un_micro
  FROM occ o JOIN ucost u USING (cur) WHERE o.prev IS NULL
  UNION ALL
  SELECT o.doc_id, c.k_micro, u.u_micro
  FROM occ o
  JOIN kcost c ON o.prev = c.prev AND o.cur = c.cur
  JOIN ucost u ON o.cur = u.cur
  WHERE o.prev IS NOT NULL
)
SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
       CAST((2 * SUM(kn_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS mean_nll_kn_micro,
       CAST((2 * SUM(un_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS mean_nll_uni_micro,
       CAST((2 * SUM(un_micro) + COUNT(*)) // (2 * COUNT(*))
            - (2 * SUM(kn_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS kn_gain_micro
FROM scored GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# nDCG@k retrieval audit (graded relevance — the metric step up from
# known_item_mrr's binary self-retrieval)
# ---------------------------------------------------------------------------

#: exact ppm inverse discounts 1e6/log2(1+r) for ranks 1..10, precomputed
#: once so BOTH engines consume identical integer literals and no
#: transcendental is evaluated at query time (log2 of small ints is the
#: only irrational in DCG; freezing it as ppm constants makes the whole
#: metric exact BIGINT arithmetic).
NDCG_DISC_PPM = {
    1: 1_000_000,
    2: 630_930,
    3: 500_000,
    4: 430_677,
    5: 386_853,
    6: 356_207,
    7: 333_333,
    8: 315_465,
    9: 301_030,
    10: 289_065,
}


def _ndcg_disc_case(rank_col: str) -> str:
    whens = " ".join(
        f"WHEN {rank_col} = {r} THEN {d}" for r, d in NDCG_DISC_PPM.items()
    )
    return f"CASE {whens} ELSE 0 END"


def ndcg_topk(
    docs: DataFrame, probe_mod: int = 25, q_tokens: int = 4, topk: int = 10
) -> DataFrame:
    """`(qid, n_candidates, dcg_micro, idcg_micro, ndcg_ppm)` — nDCG@k
    over the same synthetic known-item query set as
    :func:`known_item_mrr` (probe docs, top-idf bigram query terms,
    tf·idf ranking), with GRADED relevance independent of the scorer:
    rel(doc) = min(distinct query terms the doc contains, 3), gain
    2^rel - 1.  DCG sums gains of the tf·idf top-``topk`` at frozen ppm
    discounts (:data:`NDCG_DISC_PPM`); IDCG re-ranks the same candidate
    set by relevance itself (ties by doc_id); ndcg_ppm = 1e6·DCG DIV
    IDCG.  The pair (MRR, nDCG) is the standard per-release retrieval
    dashboard: MRR tracks the known item, nDCG tracks whole-list
    quality.

    Exactness: gains, discounts, DCG/IDCG and the final ppm ratio are
    all BIGINT (no transcendental evaluated at query time, no float
    division), so the output is partition- and engine-invariant.

    Plan shape: one inverted-index explode (shared shape with
    known_item_mrr), the tiny query-term table broadcast onto it, one
    (qid, doc) aggregate producing BOTH score and relevance (a single
    shuffle serves DCG and IDCG — the two rankings are two windows over
    the same candidate frame), and two qid-partitioned top-k windows.
    At 100 TB the candidate set per query is bounded by the query
    terms' document frequency (high-idf terms are rare by
    construction; add a max_df guard for adversarial corpora, as in
    ngram_jaccard_pairs).
    """
    from pyspark.sql import Window

    from cloudpelican_lsd_spark.operators.dedup import shingle_rows

    inv = (
        shingle_rows(docs, n=2)
        .groupBy("doc_id", F.col("shingle").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        inv.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.expr(
                "GREATEST(CAST(ROUND(ln(n_docs / df) * 1e6, 0) AS BIGINT),"
                " CAST(0 AS BIGINT))"
            ).alias("idf_micro"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("idf_micro").desc(), F.col("term").asc()
    )
    qterms = (
        inv.where(F.col("doc_id") % probe_mod == 0)
        .select(F.col("doc_id").alias("qid"), "term")
        .join(idf, "term")
        .withColumn("qrn", F.row_number().over(wq))
        .where(F.col("qrn") <= q_tokens)
        .select("qid", "term")
    )
    cand = (
        inv.join(idf, "term")
        .join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("idf_micro")).alias("score"),
            F.least(F.countDistinct("term"), F.lit(3)).alias("rel"),
        )
        .withColumn(
            "gain", F.expr("CAST(shiftleft(1, CAST(rel AS INT)) - 1 AS BIGINT)")
        )
    )
    w_score = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w_ideal = Window.partitionBy("qid").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    ranked = cand.select(
        "qid",
        "gain",
        F.row_number().over(w_score).alias("rk"),
        F.row_number().over(w_ideal).alias("irk"),
    )
    disc_rk = F.expr(_ndcg_disc_case("rk"))
    disc_irk = F.expr(_ndcg_disc_case("irk"))
    return (
        ranked.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(
                F.when(F.col("rk") <= topk, F.col("gain") * disc_rk).otherwise(0)
            ).alias("dcg_micro"),
            F.sum(
                F.when(F.col("irk") <= topk, F.col("gain") * disc_irk).otherwise(0)
            ).alias("idcg_micro"),
        )
        .select(
            "qid",
            "n_candidates",
            "dcg_micro",
            "idcg_micro",
            F.expr("(1000000 * dcg_micro) DIV idcg_micro").alias("ndcg_ppm"),
        )
    )


def ndcg_topk_oracle(
    probe_mod: int = 25, q_tokens: int = 4, topk: int = 10
) -> str:
    from cloudpelican_lsd_spark.operators.dedup import shingles_oracle_cte

    disc_rk = _ndcg_disc_case("rk")
    disc_irk = _ndcg_disc_case("irk")
    return f"""WITH {shingles_oracle_cte(2, "documents", "nd")},
nd_inv AS (
  SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS term,
         COUNT(*)::BIGINT AS tf
  FROM ndpos GROUP BY doc_id, term
),
nd_n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
nd_idf AS (
  SELECT term,
         GREATEST(CAST(ROUND(ln(n_docs / COUNT(*)) * 1e6, 0) AS BIGINT),
                  0) AS idf_micro
  FROM nd_inv, nd_n GROUP BY term, n_docs
),
nd_q AS (
  SELECT qid, term FROM (
    SELECT i.doc_id AS qid, i.term,
           row_number() OVER (PARTITION BY i.doc_id
                              ORDER BY d.idf_micro DESC, i.term ASC) AS qrn
    FROM nd_inv i JOIN nd_idf d USING (term)
    WHERE i.doc_id % {probe_mod} = 0
  ) WHERE qrn <= {q_tokens}
),
nd_cand AS (
  SELECT q.qid, i.doc_id,
         SUM(i.tf * d.idf_micro)::BIGINT AS score,
         least(COUNT(DISTINCT i.term), 3)::BIGINT AS rel
  FROM nd_inv i JOIN nd_idf d USING (term) JOIN nd_q q USING (term)
  GROUP BY q.qid, i.doc_id
),
nd_ranked AS (
  SELECT qid, (1 << rel) - 1 AS gain,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC) AS rk,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rel DESC, doc_id ASC) AS irk
  FROM nd_cand
),
nd_agg AS (
  SELECT qid, COUNT(*)::BIGINT AS n_candidates,
         SUM(CASE WHEN rk <= {topk} THEN gain * ({disc_rk}) ELSE 0 END)::BIGINT
             AS dcg_micro,
         SUM(CASE WHEN irk <= {topk} THEN gain * ({disc_irk}) ELSE 0 END)::BIGINT
             AS idcg_micro
  FROM nd_ranked GROUP BY qid
)
SELECT qid, n_candidates, dcg_micro, idcg_micro,
       CAST((1000000 * dcg_micro) // idcg_micro AS BIGINT) AS ndcg_ppm
FROM nd_agg"""


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth audit
# ---------------------------------------------------------------------------


def heaps_law(docs: DataFrame, n_buckets: int = 20) -> DataFrame:
    """`(bucket, bucket_tokens, bucket_new_terms, cum_tokens, cum_vocab)`
    — the corpus's vocabulary-growth curve at ``n_buckets`` ingestion
    checkpoints: cumulative distinct terms vs cumulative tokens in
    doc_id order.  Against Heaps' law (V ≈ K·nᵝ, β≈0.5 for natural
    text) the curve is the corpus-level novelty dashboard: a flattening
    tail means new data is mostly vocabulary the corpus already has
    (dedup/diversity alarm), a superlinear tail means vocabulary churn
    (encoding noise, id-like junk) — the corpus twin of the per-doc
    text_ngram_novelty signal.

    Buckets are ``(doc_id * n_buckets) DIV (max_id + 1)`` — exact
    integer arithmetic, monotone in doc_id, fixed count regardless of
    corpus size, valid for any non-negative monotone id space (ids need
    not be dense).  All outputs are exact BIGINTs.

    100 TB shape: ONE token explode serves both sides — per-bucket
    token counts, and per-term MIN(bucket) (first appearance) reduced
    to per-bucket new-term counts; the cumulative sums are windows over
    the ``n_buckets``-row frame (bounded by construction — the
    annotated-global-window class, input provably <= n_buckets rows).
    The max_id scalar is a startup aggregate (broadcast join, the
    dedup.py startup-scalar pattern).
    """
    from pyspark.sql import Window

    mx = docs.agg((F.max("doc_id") + 1).alias("mxid"))
    toks = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"(doc_id * {int(n_buckets)}) DIV mxid").alias("bucket"),
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_tokens")
    )
    first_seen = (
        toks.groupBy("term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_new_terms"))
    )
    # bounded frame: <= n_buckets rows by construction
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(first_seen, "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "bucket_tokens",
            F.coalesce("bucket_new_terms", F.lit(0))
            .cast("long")
            .alias("bucket_new_terms"),
        )
        .withColumn("cum_tokens", F.sum("bucket_tokens").over(w).cast("long"))
        .withColumn(
            "cum_vocab", F.sum("bucket_new_terms").over(w).cast("long")
        )
    )


def heaps_law_oracle(n_buckets: int = 20) -> str:
    b = int(n_buckets)
    return f"""WITH mx AS (SELECT MAX(doc_id) + 1 AS mxid FROM documents),
toks AS (
  SELECT (doc_id * {b}) // mxid AS bucket,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents CROSS JOIN mx
),
per_bucket AS (
  SELECT bucket, COUNT(*)::BIGINT AS bucket_tokens FROM toks GROUP BY bucket
),
first_seen AS (
  SELECT bucket, COUNT(*)::BIGINT AS bucket_new_terms FROM (
    SELECT term, MIN(bucket) AS bucket FROM toks GROUP BY term
  ) GROUP BY bucket
)
SELECT p.bucket::BIGINT AS bucket, p.bucket_tokens,
       COALESCE(f.bucket_new_terms, 0)::BIGINT AS bucket_new_terms,
       CAST(SUM(p.bucket_tokens) OVER (ORDER BY p.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens,
       CAST(SUM(COALESCE(f.bucket_new_terms, 0)) OVER (ORDER BY p.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_vocab
FROM per_bucket p LEFT JOIN first_seen f USING (bucket)"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency audit
# ---------------------------------------------------------------------------


def zipf_audit(docs: DataFrame, topn: int = 100) -> DataFrame:
    """`(rank, term, cnt, freq_ppm, ratio_to_top_ppm, zipf_expected_ppm)`
    — the rank-frequency law audit over the corpus's top-``topn`` terms:
    under Zipf's law `ratio_to_top_ppm` (cnt(r)·1e6/cnt(1)) tracks
    `zipf_expected_ppm` (1e6/r); a heavy divergence flags boilerplate
    (flat head) or id-like junk (thin head) — the third panel of the
    statistical-laws dashboard next to Heaps (corpus_heaps_law) and the
    length histogram.  All columns exact BIGINT integer division.

    100 TB shape: one token explode → one token-keyed hash agg; the
    top-``topn`` is a TakeOrderedAndProject (per-partition bounded
    heaps), never a vocabulary-wide window; the rank/top-count pass
    then runs over the ``topn``-row bounded frame (annotated global
    window class) with the top count as a broadcast scalar.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(topn)
    top1 = top.agg(F.max("cnt").alias("cnt1"))
    # bounded frame: <= topn rows post-limit
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(top1))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("(cnt * 1000000) DIV total").alias("freq_ppm"),
            F.expr("(cnt * 1000000) DIV cnt1").alias("ratio_to_top_ppm"),
            F.expr("1000000 DIV rank").alias("zipf_expected_ppm"),
        )
    )


def zipf_audit_oracle(topn: int = 100) -> str:
    return f"""WITH zc AS (
  SELECT u.term, COUNT(*)::BIGINT AS cnt
  FROM documents d, unnest(string_split(lower(d.text), ' ')) AS u(term)
  GROUP BY u.term
),
zt AS (SELECT SUM(cnt) AS total FROM zc),
ztop AS (
  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
  FROM zc ORDER BY cnt DESC, term ASC LIMIT {topn}
),
z1 AS (SELECT MAX(cnt) AS cnt1 FROM ztop)
SELECT rank::BIGINT AS rank, term, cnt,
       CAST((cnt * 1000000) // total AS BIGINT) AS freq_ppm,
       CAST((cnt * 1000000) // cnt1 AS BIGINT) AS ratio_to_top_ppm,
       CAST(1000000 // rank AS BIGINT) AS zipf_expected_ppm
FROM ztop CROSS JOIN zt CROSS JOIN z1"""


# ---------------------------------------------------------------------------
# distinct-n diversity (Li et al. 2016)
# ---------------------------------------------------------------------------


def distinct_ngrams(docs: DataFrame, max_n: int = 3) -> DataFrame:
    """`(source, n, total_ngrams, distinct_ngrams, distinct_ppm)` — the
    distinct-n diversity metric (Li et al. 2016) per source for
    n = 1..``max_n``: distinct word n-grams over total n-gram
    occurrences.  The standard mode-collapse / templated-text detector
    for GENERATED corpora — a synthetic-data source whose distinct-2
    ppm sits far below the organic sources' is recycling templates.
    Exact BIGINT counts and one integer ppm division.

    100 TB shape: the gopher_repetition trick reused — ONE fused
    explode emits every n-gram size in one pass over the token stream,
    one (source, n, gram) hash aggregate (map-side partials), and a
    (source, n)-keyed rollup; output is |sources|·max_n rows.
    """
    from cloudpelican_lsd_spark.operators.dedup import _spread

    # _spread (guide §2.5): the fused n-gram explode runs on the scan
    # stage — single-task on a one-split local scan (0.7 s at sf0.1);
    # no-op at scale.
    d = _spread(docs).select(
        "source", F.split(F.lower("text"), " ").alias("w")
    ).where(F.size("w") >= 1)
    grams = (
        d.select(
            "source",
            "w",
            F.explode(F.expr("sequence(1, size(w))")).alias("i"),
        )
        .select(
            "source",
            "w",
            "i",
            F.explode(
                F.expr(
                    f"CASE WHEN size(w) - i + 1 >= 1"
                    f" THEN sequence(1, least({int(max_n)}, size(w) - i + 1))"
                    f" ELSE array() END"
                )
            ).alias("n"),
        )
        .select(
            "source",
            "n",
            F.concat_ws(" ", F.expr("slice(w, i, n)")).alias("g"),
        )
    )
    return (
        grams.groupBy("source", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source", F.col("n").cast("long").alias("n"))
        .agg(
            F.sum("c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        )
        .withColumn(
            "distinct_ppm",
            F.expr("(distinct_ngrams * 1000000) DIV total_ngrams"),
        )
    )


def distinct_ngrams_oracle(max_n: int = 3) -> str:
    return f"""WITH d AS (
  SELECT source, string_split(lower(text), ' ') AS w FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 1
),
grams AS (
  SELECT source, n, array_to_string(w[i : i + n - 1], ' ') AS g
  FROM d, unnest(generate_series(1, len(w))) AS t1(i),
       unnest(generate_series(1, {int(max_n)})) AS t2(n)
  WHERE i + n - 1 <= len(w)
),
gc AS (
  SELECT source, n, g, COUNT(*)::BIGINT AS c FROM grams GROUP BY source, n, g
)
SELECT source, n::BIGINT AS n,
       SUM(c)::BIGINT AS total_ngrams,
       COUNT(*)::BIGINT AS distinct_ngrams,
       CAST((COUNT(*) * 1000000) // SUM(c) AS BIGINT) AS distinct_ppm
FROM gc GROUP BY source, n"""


# ---------------------------------------------------------------------------
# UTF-8 byte-budget audit
# ---------------------------------------------------------------------------


def utf8_stats(docs: DataFrame) -> DataFrame:
    """`(source, n_docs, n_chars, n_bytes, excess_bytes,
    bytes_per_char_ppm, excess_ppm)` — the byte-vs-character budget a
    tokenizer/storage decision reads per source: byte-fallback BPEs pay
    per BYTE, context windows per TOKEN, and a source whose
    bytes_per_char_ppm sits far above 1e6 (CJK, emoji-heavy) will
    fragment under a byte-level vocabulary.  ``excess_bytes`` =
    n_bytes - n_chars (a UTF-8 char of b bytes contributes b-1 excess
    bytes) — pure octet arithmetic both engines compute identically,
    unlike a per-char-width histogram, which would need an agreed
    per-char decode.

    One scan, one |sources|-row aggregate; exact BIGINT + integer ppm.
    """
    return (
        docs.select(
            "source",
            F.length("text").alias("nc"),
            F.octet_length("text").alias("nb"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("nb").cast("long").alias("n_bytes"),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            "n_bytes",
            (F.col("n_bytes") - F.col("n_chars")).alias("excess_bytes"),
            F.expr("(n_bytes * 1000000) DIV n_chars").alias("bytes_per_char_ppm"),
            F.expr(
                "((n_bytes - n_chars) * 1000000) DIV n_bytes"
            ).alias("excess_ppm"),
        )
    )


UTF8_STATS_ORACLE = """\
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(length(text))::BIGINT AS n_chars,
       SUM(strlen(text))::BIGINT AS n_bytes,
       (SUM(strlen(text)) - SUM(length(text)))::BIGINT AS excess_bytes,
       CAST((SUM(strlen(text)) * 1000000) // SUM(length(text)) AS BIGINT)
           AS bytes_per_char_ppm,
       CAST(((SUM(strlen(text)) - SUM(length(text))) * 1000000)
            // SUM(strlen(text)) AS BIGINT) AS excess_ppm
FROM documents GROUP BY source"""


def gopher_sensitivity(docs: DataFrame) -> DataFrame:
    """`(rule, threshold, n_fail, n_sole_fail, fail_ppm)` — which Gopher
    repetition rule BITES: per Table A1 rule, how many documents fail it
    at all, and how many would pass the whole panel if only this rule
    were dropped (`n_sole_fail` — the marginal removals this rule alone
    is responsible for).  The release diagnostic behind threshold
    tuning: a rule with high n_fail but zero n_sole_fail is redundant
    with the rest of the panel; a rule carrying most sole-fails is the
    one to sanity-check against samples before shipping.

    One run of the shared panel (:func:`gopher_repetition`) feeds all
    eleven rule rollups — the per-rule aggregates are conditional sums
    over the SAME fraction relation, so the corpus is scanned once.
    Exact BIGINT counts + integer ppm.

    Lazy shape (r8, guide §5 "the driver should do almost no data
    work"): the per-rule unpivot is an 11-row LITERAL rules relation
    cross-joined onto the broadcast one-row aggregate, selecting each
    rule's counters by rule index — the former collect() +
    createDataFrame at BUILD time made this the registry's one
    driver-materialized hot query (PLANS.md mode=driver-mat, an
    ExistingRDD stub hiding the panel cost from every plan audit) and
    re-ran the whole panel inside DataFrame construction.  Values are
    bit-identical: same single-pass aggregate, same integer arithmetic
    (`nf * 1e6 div greatest(total, 1)` mirrors the oracle's
    `SUM(f_i)*1000000 // greatest(COUNT(*), 1)` exactly, floor
    division on non-negative BIGINTs).
    """
    fr = gopher_repetition(docs).drop("pass_gopher")
    names = list(GOPHER_THRESHOLDS.items())
    fails = fr.select(
        "doc_id",
        *[
            (F.col(name) > F.lit(thr)).cast("int").alias(f"f_{i}")
            for i, (name, thr) in enumerate(names)
        ],
    ).withColumn(
        "n_fails", sum(F.col(f"f_{i}") for i in range(len(names)))
    )
    # ONE aggregation job over the (expensive) panel: every per-rule
    # count plus the total in a single pass — a per-rule union of
    # aggregates would re-evaluate the whole n-gram panel once per rule
    aggs = [F.count(F.lit(1)).alias("total")]
    for i in range(len(names)):
        aggs.append(F.sum(F.col(f"f_{i}")).cast("long").alias(f"nf_{i}"))
        aggs.append(
            F.sum(F.expr(f"IF(f_{i} = 1 AND n_fails = 1, 1, 0)"))
            .cast("long")
            .alias(f"ns_{i}")
        )
    row = fails.agg(*aggs)
    rules = docs.sparkSession.createDataFrame(
        [(i, name, float(thr)) for i, (name, thr) in enumerate(names)],
        "rule_i int, rule string, threshold double",
    )
    nf_case = " ".join(
        f"WHEN rule_i = {i} THEN nf_{i}" for i in range(len(names))
    )
    ns_case = " ".join(
        f"WHEN rule_i = {i} THEN ns_{i}" for i in range(len(names))
    )
    return rules.crossJoin(F.broadcast(row)).select(
        "rule",
        "threshold",
        F.expr(f"CASE {nf_case} END").alias("n_fail"),
        F.expr(f"CASE {ns_case} END").alias("n_sole_fail"),
        F.expr(
            f"(CASE {nf_case} END) * 1000000 div greatest(total, 1)"
        ).alias("fail_ppm"),
    )


def gopher_sensitivity_oracle(words_per_line: int = 10) -> str:
    """DuckDB twin over the fixture lined view (composes gopher_fr_cte —
    the same arithmetic as the panel and the v4 gate).

    `fails2` is MATERIALIZED: the 11 UNION-ALL rule arms each reference
    it, and without the hint DuckDB inlines the whole n-gram panel into
    every arm — 11 full panel evaluations, which at sf1 spilled ~50 GB
    of temp and ran >30 min where the single-evaluation panel oracle
    (`gopher_repetition_oracle`, same CTE) finishes in ~1 min.
    Semantics-neutral; parity re-verified at all scales after the hint.
    """
    wpl = int(words_per_line)
    lined = f"""lined AS (
  SELECT doc_id,
         array_to_string(list_transform(
           generate_series(0, CAST(ceil(len(string_split(text, ' ')) / {wpl}.0)
                                  AS BIGINT) - 1),
           i -> array_to_string((string_split(text, ' '))[i*{wpl}+1 : i*{wpl}+{wpl}],
                                ' ')), chr(10)) AS text
  FROM documents
)"""
    flags = ",\n         ".join(
        f"CASE WHEN {name} > {thr} THEN 1 ELSE 0 END AS f_{i}"
        for i, (name, thr) in enumerate(GOPHER_THRESHOLDS.items())
    )
    nf = " + ".join(f"f_{i}" for i in range(len(GOPHER_THRESHOLDS)))
    branches = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, CAST({float(thr)} AS DOUBLE) AS threshold,"
        f" SUM(f_{i})::BIGINT AS n_fail,"
        f" SUM(CASE WHEN f_{i} = 1 AND n_fails = 1 THEN 1 ELSE 0 END)::BIGINT"
        f" AS n_sole_fail,"
        f" CAST((SUM(f_{i}) * 1000000) // greatest(COUNT(*), 1) AS BIGINT)"
        f" AS fail_ppm"
        f" FROM fails"
        for i, (name, thr) in enumerate(GOPHER_THRESHOLDS.items())
    )
    return f"""WITH {lined},
{gopher_fr_cte("lined", "gp")},
fails AS (
  SELECT doc_id,
         {flags},
         0 AS _z
  FROM gpfr
),
fails2 AS MATERIALIZED (SELECT *, ({nf}) AS n_fails FROM fails)
{branches.replace("FROM fails", "FROM fails2")}"""
