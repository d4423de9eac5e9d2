"""tools/scale_testdata.py produces the sf1 validation data — a bug
there silently weakens every scale claim built on it, so its invariants
are pinned here (on a tiny 2x scale of sf0.001)."""

from __future__ import annotations

import duckdb
import pytest

from tools.scale_testdata import MAX_REPLICAS, STRIDE, scale


@pytest.fixture(scope="module")
def scaled(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scaled") / "sf2x")
    scale("/root/testdata/sf0.001", dst, 2)
    return dst


def test_scaler_row_counts_and_replica0_identity(scaled):
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in ("customer", "orders", "lineitem", "events", "documents",
              "embeddings"):
        n0 = con.sql(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
        n1 = con.sql(f"SELECT count(*) FROM '{scaled}/{t}.parquet'").fetchone()[0]
        assert n1 == 2 * n0, t
    # dimensions copied, not replicated
    for t in ("region", "nation"):
        n0 = con.sql(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
        n1 = con.sql(f"SELECT count(*) FROM '{scaled}/{t}.parquet'").fetchone()[0]
        assert n1 == n0, t
    # replica 0 is byte-identical (documents: text AND n_chars)
    diff = con.sql(
        f"""SELECT count(*) FROM '{src}/documents.parquet' a
            JOIN '{scaled}/documents.parquet' b USING (doc_id)
            WHERE a.text <> b.text OR a.n_chars <> b.n_chars"""
    ).fetchone()[0]
    assert diff == 0


def test_scaler_fk_integrity_and_salt_contract(scaled):
    con = duckdb.connect()
    # foreign keys shifted in lockstep: every order's customer exists
    orphans = con.sql(
        f"""SELECT count(*) FROM '{scaled}/orders.parquet' o
            LEFT JOIN '{scaled}/customer.parquet' c
              ON c.c_custkey = o.o_custkey
            WHERE c.c_custkey IS NULL"""
    ).fetchone()[0]
    assert orphans == 0
    li = con.sql(
        f"""SELECT count(*) FROM '{scaled}/lineitem.parquet' l
            LEFT JOIN '{scaled}/orders.parquet' o
              ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey IS NULL"""
    ).fetchone()[0]
    assert li == 0
    # replica 1 docs are the exact Caesar rotation of their originals
    # (r9: the rotation replaced the r8 prefix salt, which left every
    # later n-gram identical across replicas and emptied df-pruned pair
    # queries at sf1): length-preserving, n_chars passes through, and
    # the text equals translate(original, alpha, rot(1)) byte for byte
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    rot1 = lower[1:] + lower[:1] + upper[1:] + upper[:1]
    bad = con.sql(
        f"""SELECT count(*) FROM '{scaled}/documents.parquet' b
            JOIN '/root/testdata/sf0.001/documents.parquet' a
              ON b.doc_id = a.doc_id + {STRIDE}
            WHERE b.n_chars <> length(b.text)
               OR b.text <> translate(a.text, '{lower + upper}', '{rot1}')"""
    ).fetchone()[0]
    assert bad == 0
    # the rotation's purpose: within-replica shingle structure preserved
    # (equal distinct-trigram counts per doc), cross-replica trigrams
    # disjoint wherever they contain letters
    same = con.sql(
        f"""WITH sh AS (
              SELECT doc_id,
                     array_to_string(string_split(lower(text), ' ')[i : i + 2], ' ') AS g
              FROM '{scaled}/documents.parquet',
                   generate_series(1, 200) t(i)
              WHERE i + 2 <= len(string_split(text, ' '))
            )
            SELECT count(*) FROM sh a
            JOIN sh b ON a.g = b.g AND b.doc_id = a.doc_id + {STRIDE}
            WHERE regexp_matches(a.g, '[a-z]')"""
    ).fetchone()[0]
    assert same == 0


def test_scaler_embedding_rotation_preserves_norms(scaled):
    con = duckdb.connect()
    # replica 1 vectors are dimension-ROTATED copies: identical multiset
    # of elements (so identical norms/within-replica cosines), but not
    # the identical array (cross-replica decorrelation)
    rows = con.sql(
        f"""SELECT a.embedding AS e0, b.embedding AS e1
            FROM '{scaled}/embeddings.parquet' a
            JOIN '{scaled}/embeddings.parquet' b
              ON b.vec_id = a.vec_id + {STRIDE}
            WHERE a.vec_id < 5"""
    ).fetchall()
    assert rows
    for e0, e1 in rows:
        assert sorted(e0) == sorted(e1)  # same elements
        assert list(e0) != list(e1)      # rotated, not identical
        # exact rotation by 7: e1[j] == e0[(j + 7) % 64]
        assert all(e1[j] == e0[(j + 7) % 64] for j in range(64))


def test_scaler_refuses_readonly_testdata(tmp_path):
    with pytest.raises(ValueError, match="read-only"):
        scale("/root/testdata/sf0.001", "/root/testdata/evil", 2)


def test_scaler_refuses_more_replicas_than_rotations(tmp_path):
    # replica 26 would rotate the text by 26 = 0 letters: a byte-identical
    # copy of replica 0.  The check runs before anything is read or
    # written.
    with pytest.raises(ValueError, match="rotation"):
        scale(str(tmp_path / "src"), str(tmp_path / "big"), MAX_REPLICAS + 1)
    assert not (tmp_path / "big").exists()
