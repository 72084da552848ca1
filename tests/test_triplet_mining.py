"""triplet_mining edge inputs: a zero-norm vector never becomes an
anchor's positive or negative, and an embeddings table without anchors
yields an empty result with the query's schema."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry


def _write_embeddings(sf_dir, ids, vecs):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array([i % 3 for i in ids], pa.int32()),
            }
        ),
        sf_dir / "embeddings.parquet",
    )


def _brute_force(ids, vecs):
    """Per anchor, the best finite-cosine same/different-label vector
    (ties to the smaller id); anchors without both are dropped."""
    mat = np.array(vecs, dtype=np.float32).astype(np.float64)
    norm = np.sqrt((mat * mat).sum(axis=1))
    out = {}
    for a, av in zip(ids, mat):
        if a % 20:
            continue
        best = {}
        for c, cv, cn in zip(ids, mat, norm):
            with np.errstate(invalid="ignore"):
                cos = (cv @ av) / (cn * norm[ids.index(a)])
            if c == a or np.isnan(cos):
                continue
            side = c % 3 == a % 3
            if side not in best or cos > best[side][0]:
                best[side] = (cos, c)
        if len(best) == 2:
            out[a] = (best[True][1], best[True][0], best[False][1], best[False][0])
    return out


def test_zero_vector_never_wins_and_anchorless_table_is_empty(spark, tmp_path):
    rng = np.random.default_rng(7)
    ids = list(range(100))
    vecs = [rng.standard_normal(64).astype(np.float32) for _ in ids]
    # zero-norm vectors at 48 consecutive ids (anchors 20 and 40 among
    # them): the kernel's round-robin repartition puts one of every
    # label into every batch, so a NaN cosine competes in each argmax
    for i in range(1, 49):
        vecs[i] = np.zeros(64, np.float32)
    full = tmp_path / "full"
    full.mkdir()
    _write_embeddings(full, ids, vecs)

    got = entry.q_triplet_mining(spark, str(full))
    rows = {r["anchor_id"]: r for r in got.collect()}
    want = _brute_force(ids, vecs)
    assert sorted(want) == [0, 60, 80] and sorted(rows) == sorted(want)
    for a, (pos_id, pos_cos, neg_id, neg_cos) in want.items():
        r = rows[a]
        assert (r["pos_id"], r["neg_id"]) == (pos_id, neg_id)
        assert r["pos_cos"] == pytest.approx(pos_cos, abs=1e-6)
        assert r["neg_cos"] == pytest.approx(neg_cos, abs=1e-6)

    anchorless = tmp_path / "anchorless"
    anchorless.mkdir()
    _write_embeddings(anchorless, ids[1:20], vecs[1:20])
    empty = entry.q_triplet_mining(spark, str(anchorless))
    assert empty.schema == got.schema
    assert empty.count() == 0
