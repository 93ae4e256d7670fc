"""Guards for the scaling-probe data generator (tools/scaleup.py).

The probe's exponents are only meaningful if the replicated data
preserves the workload's SHAPE: keys must not collide across replicas
(else joins fan out), and cross-replica text/vector similarity must sit
below every near-dup threshold (else the pair surface grows O(N²) and
the probe measures a workload nobody runs).  These tests generate a
2× replica into a temp dir and pin those properties.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import scaleup  # noqa: E402


@pytest.fixture(scope="module")
def x2(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale") / "x2")
    scaleup.generate(2, out)
    return out


def test_keys_are_disjoint_and_counts_double(x2):
    con = duckdb.connect()
    for t, keys in scaleup.SHIFT_COLS.items():
        glob = f"{x2}/{t}.parquet/*.parquet"
        n, n_src = con.execute(
            f"SELECT (SELECT count(*) FROM '{glob}'), "
            f"(SELECT count(*) FROM '{scaleup.SRC}/{t}.parquet')"
        ).fetchone()
        assert n == 2 * n_src, t
        key = keys[0]
        n_distinct = con.execute(
            f"SELECT count(DISTINCT {key}) FROM '{glob}'"
        ).fetchone()[0]
        # primary keys stay unique across replicas (no join fan-out)
        if key not in ("l_orderkey", "user_id"):
            assert n_distinct == n, (t, key)


def test_referential_integrity_survives(x2):
    con = duckdb.connect()
    orphans = con.execute(
        f"SELECT count(*) FROM '{x2}/lineitem.parquet/*.parquet' l "
        f"WHERE NOT EXISTS (SELECT 1 FROM '{x2}/orders.parquet/*.parquet' o "
        "WHERE o.o_orderkey = l.l_orderkey)"
    ).fetchone()[0]
    assert orphans == 0
    bad_cust = con.execute(
        f"SELECT count(*) FROM '{x2}/orders.parquet/*.parquet' o "
        f"WHERE NOT EXISTS (SELECT 1 FROM '{x2}/customer.parquet/*.parquet' c "
        "WHERE c.c_custkey = o.o_custkey)"
    ).fetchone()[0]
    assert bad_cust == 0


def test_dims_unchanged(x2):
    con = duckdb.connect()
    for t in scaleup.DIMS:
        n, n_src = con.execute(
            f"SELECT (SELECT count(*) FROM '{x2}/{t}.parquet'), "
            f"(SELECT count(*) FROM '{scaleup.SRC}/{t}.parquet')"
        ).fetchone()
        assert n == n_src, t


def test_cross_replica_text_below_near_dup_thresholds(x2):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT a.text, b.text FROM '{x2}/documents.parquet/*.parquet' a "
        f"JOIN '{x2}/documents.parquet/*.parquet' b "
        f"ON b.doc_id = a.doc_id + {scaleup.STRIDE} "
        "WHERE len(string_split_regex(trim(a.text), '\\s+')) >= 30 "
        "LIMIT 50"
    ).fetchall()
    assert rows
    for a, b in rows:
        wa, wb = a.split(), b.split()
        A = set(zip(wa, wa[1:]))
        B = set(zip(wb, wb[1:]))
        j = len(A & B) / len(A | B)
        # every near-dup gate in the suite sits at >= 0.6
        assert j < 0.55, j


def test_cross_replica_vectors_decorrelate(x2):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT a.embedding, b.embedding "
        f"FROM '{x2}/embeddings.parquet/*.parquet' a "
        f"JOIN '{x2}/embeddings.parquet/*.parquet' b "
        f"ON b.vec_id = a.vec_id + {scaleup.STRIDE} LIMIT 200"
    ).fetchall()
    assert rows
    cosines = []
    for va, vb in rows:
        va, vb = np.asarray(va), np.asarray(vb)
        assert abs(np.linalg.norm(vb) - 1.0) < 1e-3  # rotation preserves norm
        cosines.append(float(va @ vb))
    # rotated copies sit in the isotropic background ~N(0, 1/64)
    assert abs(np.mean(cosines)) < 0.1
    assert max(abs(c) for c in cosines) < 0.7


def test_within_replica_cosines_preserved_exactly(x2):
    """The rotation must preserve pair structure: cos(Qu, Qv) == cos(u, v).
    This is what makes the scaled corpus replicate the fixture's near-dup
    pair set instead of distorting it."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT o1.embedding, o2.embedding, r1.embedding, r2.embedding "
        f"FROM '{scaleup.SRC}/embeddings.parquet' o1 "
        f"JOIN '{scaleup.SRC}/embeddings.parquet' o2 ON o2.vec_id = o1.vec_id + 1 "
        f"JOIN '{x2}/embeddings.parquet/*.parquet' r1 "
        f"ON r1.vec_id = o1.vec_id + {scaleup.STRIDE} "
        f"JOIN '{x2}/embeddings.parquet/*.parquet' r2 "
        f"ON r2.vec_id = o2.vec_id + {scaleup.STRIDE} LIMIT 50"
    ).fetchall()
    assert rows
    for o1, o2, r1, r2 in rows:
        o1, o2, r1, r2 = map(np.asarray, (o1, o2, r1, r2))
        assert abs(float(o1 @ o2) - float(r1 @ r2)) < 1e-4


def test_replica_zero_is_byte_identical(x2):
    con = duckdb.connect()
    diff = con.execute(
        f"SELECT count(*) FROM ("
        f"SELECT * FROM '{x2}/documents.parquet/part-000.parquet' "
        f"EXCEPT SELECT * FROM '{scaleup.SRC}/documents.parquet')"
    ).fetchone()[0]
    assert diff == 0


def test_generation_is_deterministic(tmp_path):
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    scaleup.generate(2, out_a)
    scaleup.generate(2, out_b)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        diff = con.execute(
            f"SELECT count(*) FROM ("
            f"SELECT * FROM '{out_a}/{t}.parquet/part-001.parquet' "
            f"EXCEPT SELECT * FROM '{out_b}/{t}.parquet/part-001.parquet')"
        ).fetchone()[0]
        assert diff == 0, t
