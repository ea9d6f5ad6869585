"""Bit-exactness of the Spark cosine fold against the DuckDB unrolled
chain (the oracle dialect).

Every exact-oracle cosine key depends on the two dialects of
``dot_unrolled_sql`` / ``cosine_unrolled_sql`` running the same IEEE-754
op sequence. These tests compare the raw doubles bit for bit
(``struct.pack('<d', ...)``), which a value-level ``==`` cannot do:
``-0.0 == 0.0`` is true, yet the sign of a zero cosine changes a
result hash.
"""

from __future__ import annotations

import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq

from mongodb_cdc_spark.functions.vectors import (
    DIM,
    cosine,
    cosine_unrolled_sql,
    dot,
    dot_unrolled_sql,
)

_N_REAL = 100  # 100 x 100 real embedding pairs
_PREFIX = 16  # the matryoshka eval's prefix dim

_DOTS = {
    "d": lambda dl: dot_unrolled_sql("a", "b", dialect=dl),
    "d16": lambda dl: dot_unrolled_sql("a", "b", dim=_PREFIX, dialect=dl),
}
_COSINES = {
    "c": lambda dl: cosine_unrolled_sql("a", "b", dialect=dl),
    "c16": lambda dl: cosine_unrolled_sql("a", "b", dim=_PREFIX, dialect=dl),
}


def _bits(x: float | None) -> bytes | None:
    return None if x is None else struct.pack("<d", x)


def _write_pairs(path: str, a_rows, b_rows) -> None:
    f32 = pa.list_(pa.float32())
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(len(a_rows)), pa.int64()),
                "a": pa.array(a_rows, f32),
                "b": pa.array(b_rows, f32),
            }
        ),
        path,
    )


def _bit_mismatches(spark, con, path: str, exprs: dict, helpers: dict):
    """Evaluate ``exprs`` in both dialects (and the Spark Column
    ``helpers``, each checked against the DuckDB column it names) over
    the pairs at ``path``; return every (id, column, spark, duck) whose
    doubles differ in any bit."""
    cur = con.execute(
        "SELECT id, "
        + ", ".join(f"{f('duck')} AS {k}" for k, f in exprs.items())
        + f" FROM read_parquet('{path}') ORDER BY id"
    )
    duck = [dict(zip(["id", *exprs], t)) for t in cur.fetchall()]
    sp = spark.read.parquet(path).selectExpr(
        "*", *[f"{f('spark')} AS {k}" for k, f in exprs.items()]
    )
    for name, (col, _) in helpers.items():
        sp = sp.withColumn(name, col)
    rows = sp.orderBy("id").collect()
    assert [r["id"] for r in rows] == [o["id"] for o in duck]
    checks = {k: k for k in exprs} | {n: ref for n, (_, ref) in helpers.items()}
    bad = [
        (r["id"], name, r[name], o[ref])
        for r, o in zip(rows, duck)
        for name, ref in checks.items()
        if _bits(r[name]) != _bits(o[ref])
    ]
    return duck, bad


def test_spark_cosine_fold_is_bit_exact_vs_duckdb_chain(
    spark, oracle_con, sf_dir, tmp_path
):
    """Real sf0.01 embedding pairs, full dim and the 16-dim prefix, plus
    two orthogonal unit vectors whose every product is -0.0: the chain
    returns a -0.0 dot and cosine, and so must every Spark form."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    src = sf01 if os.path.isdir(sf01) else sf_dir
    emb = (
        pq.read_table(os.path.join(src, "embeddings.parquet"))
        .sort_by("vec_id")
        .column("embedding")
        .to_pylist()[:_N_REAL]
    )
    e1 = [1.0] + [-0.0] * (DIM - 1)
    e2 = [-0.0, 1.0] + [0.0] * (DIM - 2)
    a_rows = [emb[i] for i in range(_N_REAL) for _ in range(_N_REAL)] + [e1, e2]
    b_rows = [emb[j] for _ in range(_N_REAL) for j in range(_N_REAL)] + [e2, e1]
    path = str(tmp_path / "pairs.parquet")
    _write_pairs(path, a_rows, b_rows)

    duck, bad = _bit_mismatches(
        spark,
        oracle_con,
        path,
        _DOTS | _COSINES,
        {"dcol": (dot("a", "b"), "d"), "ccol": (cosine("a", "b"), "c")},
    )
    assert not bad, bad[:10]
    # the signed-zero rows really carry -0.0 (not +0.0) in the oracle
    for col in ("d", "d16", "c", "c16"):
        assert {_bits(o[col]) for o in duck[-2:]} == {_bits(-0.0)}


def test_spark_dot_fold_keeps_all_negative_zero_sign(
    spark, oracle_con, tmp_path
):
    """An all -0.0 row dotted with +0.0, +1.0 and -0.0 rows: the first
    two chains are -0.0 (every product is -0.0), the last +0.0. A fold
    seeded with 0.0 would return +0.0 for all three. Dots only: a
    zero-norm cosine divides by zero."""
    neg0 = [-0.0] * DIM
    path = str(tmp_path / "zeros.parquet")
    _write_pairs(path, [neg0] * 3, [[0.0] * DIM, [1.0] * DIM, neg0])

    duck, bad = _bit_mismatches(
        spark, oracle_con, path, _DOTS, {"dcol": (dot("a", "b"), "d")}
    )
    assert not bad, bad
    assert [_bits(o["d"]) for o in duck] == [
        _bits(-0.0), _bits(-0.0), _bits(0.0)
    ]
