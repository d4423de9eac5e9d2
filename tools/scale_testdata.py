"""Deterministic k-fold scaler for the driver testdata — one decade up.

The driver generates /root/testdata/sf{0.001,0.01,0.1} (read-only, seed
pinned); validating the overflow-sensitive operator families one decade
beyond the bench scale (VERDICT r5 item 2) needs an sf1-equivalent set.
This tool replicates a source sf dir k times with structure-preserving
transforms so the scaled data keeps the generator's distributions and
every planted relationship, while growing LINEARLY (no degenerate
cross-replica duplicate explosions):

- fact/dim keys shift by ``replica * 10_000_000`` (well above every max
  key), with foreign keys shifted in lockstep — replica 0 is the
  original data byte-for-byte, so queries pinned to low ids
  (centroids = vec_id < 8, planted batches = doc_id < 50) keep their
  exact meaning.
- ``events.ts`` / order dates are NOT shifted: time-bucket densities
  multiply by k, which is the harsher test for fixed-point counter
  overflow (count² sums at 10× bucket counts).
- ``documents.text`` in replicas > 0 is CAESAR-ROTATED by the replica
  index (letters only, per case): within-replica dup/shingle structure
  is preserved exactly, while EVERY cross-replica n-gram decorrelates —
  pair-generating dedup operators scale linearly and df-pruned queries
  keep non-empty output at sf1 (the r8 prefix salt only changed the
  first shingle window, so dfs multiplied by k and pruned everything).
  Text length is preserved, so n_chars passes through unchanged.  There
  are 26 distinct rotations, so ``k`` is capped at 26.
- ``embeddings.embedding`` in replicas > 0 is dimension-ROTATED by
  ``7*i mod 64``: rotation preserves norms and within-replica cosines
  exactly, while cross-replica cosines decorrelate — ANN/near-dup
  structure also grows linearly.
- region/nation are fixed-size dimensions: copied as-is.

Everything runs through DuckDB (preserves parquet physical types, so
the Spark loaders exercise the same code paths as on the originals).

Usage: python tools/scale_testdata.py <src_sf_dir> <dst_dir> <k>
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

STRIDE = 10_000_000

#: one replica per distinct Caesar rotation of the alphabet
MAX_REPLICAS = 26

#: per-table scaling SQL; {i} = replica index, {src} = source parquet path.
_SCALED = {
    "customer": (
        "SELECT c_custkey + {off} AS c_custkey, c_name, c_nationkey,"
        " c_acctbal, c_mktsegment FROM '{src}'"
    ),
    "supplier": (
        "SELECT s_suppkey + {off} AS s_suppkey, s_name, s_nationkey,"
        " s_acctbal FROM '{src}'"
    ),
    "part": (
        "SELECT p_partkey + {off} AS p_partkey, p_name, p_brand, p_type,"
        " p_size, p_retailprice FROM '{src}'"
    ),
    "orders": (
        "SELECT o_orderkey + {off} AS o_orderkey,"
        " o_custkey + {off} AS o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority FROM '{src}'"
    ),
    "lineitem": (
        "SELECT l_orderkey + {off} AS l_orderkey,"
        " l_partkey + {off} AS l_partkey, l_suppkey + {off} AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate FROM '{src}'"
    ),
    "events": (
        "SELECT event_id + {off} AS event_id, ts,"
        " user_id + {off} AS user_id, event_type, value, props"
        " FROM '{src}'"
    ),
    # replicas > 0 are CAESAR-ROTATED per replica (letters shifted by i
    # within each case; digits/punctuation/whitespace untouched).  This
    # replaces the r8 3-char prefix salt, which only perturbed the first
    # shingle window of each doc: every later n-gram/fingerprint stayed
    # byte-identical ACROSS replicas, so document frequencies multiplied
    # by k and df-pruned pair queries (jaccard_df_pruned, winnowing
    # pairs/clusters) returned EMPTY at sf1 — a 0≡0 parity non-signal
    # (VERDICT r8 item 7).  The rotation preserves text length (n_chars
    # unchanged), line/token structure, and all WITHIN-replica equality
    # and overlap exactly, while decorrelating every cross-replica
    # n-gram — dedup structure grows linearly, as real ingestion would.
    "documents": (
        "SELECT doc_id + {off} AS doc_id,"
        " CASE WHEN {i} = 0 THEN text"
        "      ELSE translate(text, '{alpha}', '{rot}') END AS text,"
        " lang, source, n_chars"
        " FROM '{src}'"
    ),
    "embeddings": (
        "SELECT vec_id + {off} AS vec_id,"
        " CASE WHEN {i} = 0 THEN embedding ELSE"
        "  list_transform(generate_series(1, 64),"
        "    j -> embedding[(j - 1 + 7 * {i}) % 64 + 1])::FLOAT[]"
        " END AS embedding, label FROM '{src}'"
    ),
}

_COPIED = ("region", "nation")


def scale(src: str, dst: str, k: int) -> None:
    if os.path.abspath(dst).startswith("/root/testdata"):
        raise ValueError("refusing to write into the read-only testdata")
    if k > MAX_REPLICAS:
        # the Caesar rotation repeats every 26 replicas: replica 26 would
        # be byte-identical to replica 0, and the cross-replica
        # decorrelation the rotation exists for would silently vanish
        raise ValueError(
            f"k={k} exceeds {MAX_REPLICAS} replicas: the text rotation "
            "would repeat and duplicate earlier replicas byte for byte"
        )
    os.makedirs(dst, exist_ok=True)
    for t in _COPIED:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
        print(f"{t}: copied")
    con = duckdb.connect()
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()

    def _rot(i: int) -> str:
        return lower[i:] + lower[:i] + upper[i:] + upper[:i]

    for t, tpl in _SCALED.items():
        parts = " UNION ALL ".join(
            tpl.format(
                i=i,
                off=i * STRIDE,
                src=f"{src}/{t}.parquet",
                alpha=lower + upper,
                rot=_rot(i),
            )
            for i in range(k)
        )
        con.sql(
            f"COPY ({parts}) TO '{dst}/{t}.parquet'"
            " (FORMAT PARQUET, COMPRESSION SNAPPY)"
        )
        n = con.sql(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        print(__doc__)
        sys.exit(2)
    scale(sys.argv[1], sys.argv[2], int(sys.argv[3]))
