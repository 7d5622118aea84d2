"""Round-14 regression pins for the r13 ADVICE findings: the
hierarchical ``_route_probe`` empty-batch guard and
``_unit_dot_arrow``'s degenerate-input parity with the ``_unit_dot``
fold; and ``_seq_unroll_ok``'s probe at the PQ fit shape."""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE low: _route_probe on an empty query array must return [] on
# BOTH paths (the r13 vectorized hierarchical path raised ValueError
# from np.concatenate over an empty parts list)
# ---------------------------------------------------------------------------

def test_route_probe_empty_queries_both_paths():
    from parquet_sampler_spark.operators.similarity import _route_probe

    m = np.empty((0, 4), dtype=np.int64)
    cq = np.arange(24, dtype=np.int64).reshape(6, 4)
    # flat path
    assert _route_probe(m, cq, None, None, 2, 1) == []
    # hierarchical path (sq + owner present)
    sq = np.arange(8, dtype=np.int64).reshape(2, 4)
    owner = np.array([0, 0, 0, 1, 1, 1], dtype=np.int64)
    assert _route_probe(m, cq, sq, owner, 2, 1) == []


# ---------------------------------------------------------------------------
# ADVICE low: _unit_dot_arrow must match the _unit_dot fold on
# degenerate inputs — zero-length vectors -> 0.0 (the fold's init),
# NULL arrays (either side) and mixed-width pairs -> NULL
# ---------------------------------------------------------------------------

def test_unit_dot_arrow_degenerate_parity_with_fold(spark):
    from parquet_sampler_spark.operators.similarity import (
        _unit_dot,
        _unit_dot_arrow,
    )

    rows = [
        ([1.5, 2.0], [0.5, -1.0]),      # normal
        ([], []),                        # zero-length -> 0.0
        (None, [1.0, 2.0]),              # NULL left -> NULL
        ([1.0, 2.0], None),              # NULL right -> NULL
        ([3.0, 1.0, -2.0], [1.0, 1.0, 1.0]),  # ragged vs row 1
        ([7.0], [0.25]),                 # second length class
        ([1.0, 2.0, 3.0], [1.0, 2.0]),   # mixed widths -> NULL
        ([1.0], [1.0, 2.0]),             # mixed widths -> NULL
        ([], [1.0]),                     # zero-length vs one -> NULL
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i int, a array<double>, b array<double>",
    )
    got = {
        r["i"]: (r["hof"], r["arrow"])
        for r in df.select(
            "i",
            _unit_dot("a", "b").alias("hof"),
            _unit_dot_arrow(F.col("a"), F.col("b")).alias("arrow"),
        ).collect()
    }
    assert len(got) == len(rows)
    for i, (hof, arrow) in got.items():
        if hof is None:
            assert arrow is None, f"row {i}: fold NULL, arrow {arrow}"
        else:
            assert arrow is not None, f"row {i}: fold {hof}, arrow NULL"
            # bit-identical contract, not approx
            assert math.isclose(hof, arrow, rel_tol=0.0, abs_tol=0.0), (
                f"row {i}: {hof} != {arrow}"
            )
    assert got[1][0] == 0.0 and got[1][1] == 0.0
    assert got[2] == (None, None) and got[3] == (None, None)
    assert got[6] == got[7] == got[8] == (None, None)


# ---------------------------------------------------------------------------
# ADVICE: _seq_unroll_ok must probe the shape the PQ fits run (n=4096
# sketch rows, k=256 codes, dsub 2-7), not a toy one — numpy's reduction
# order depends on the array size. On this build the probe passes, so
# _sqdist_f64 takes the unrolled path, and that path replays the tensor
# form bit-for-bit at every width it serves.
# ---------------------------------------------------------------------------

def test_seq_unroll_probe_passes_at_pq_fit_shape():
    from parquet_sampler_spark.operators.similarity import (
        _SEQ_UNROLL_OK,
        _sqdist_f64,
    )

    assert _SEQ_UNROLL_OK
    rng = np.random.default_rng(2024)
    for d in range(2, 8):
        X = rng.standard_normal((4096, d)) * 2.0 ** 20
        C = rng.standard_normal((256, d)) * 2.0 ** 20
        ref = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assert np.array_equal(_sqdist_f64(X, C), ref), d
