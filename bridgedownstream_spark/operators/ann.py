"""Nearest-centroid assignment — the one argmin/argmax-over-candidates fold
behind k-means, IVF, IVF-PQ, PQ and SemDeDup.

``L2`` and ``DOT`` are Spark SQL templates over two double arrays
(``.format(a=..., b=...)``). Both sum left to right, the same order of
double adds as the DuckDB ``list_sum`` twins, so values match bit-for-bit
before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["L2", "DOT", "nearest"]

#: squared L2 distance between array columns {a} and {b}
L2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)
#: dot product of array columns {a} and {b}
DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


def nearest(
    df: DataFrame,
    cents: DataFrame,
    vec: str,
    c_vec: str,
    c_id: str,
    *,
    digits: int,
    metric: str = "l2",
    key: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``df``'s columns plus its nearest candidate: ``c_id``, ``score`` and
    the ``carry`` columns of the winning row of ``cents``.

    ``cents`` holds one candidate per row: id ``c_id``, vector ``c_vec``,
    the ``carry`` columns and, with ``key``, the key column. ``metric``:

    - ``"l2"``: smallest ``round(L2(vec, c_vec), digits)``, folded by
      ``array_min`` over ``struct(score, id, *carry)``;
    - ``"cos"``: largest ``round(DOT(vec, c_vec) / (nrm * c_nrm), digits)``
      (``df`` carries its norm in ``nrm``, ``cents`` in ``c_nrm``), folded
      by ``array_max`` over ``struct(score, -id, *carry)``. It stays a max:
      negated into ``array_min``, a null score would sort first and win.

    With ``key`` each row is scored only against the candidates sharing
    its key value (PQ: one codebook per subspace ``sub``).

    Determinism contract, which keeps every caller bit-exact against its
    DuckDB ``row_number()`` twin:

    - scores round to ``digits`` before they are compared;
    - ties go to the smallest candidate id (carry is never compared, as
      ids are unique);
    - zero hash exchange of ``df``: the candidates collect into one sorted
      array row (one per key) that broadcasts, and each row folds its own
      candidates — the assignment is a pure projection.
    """
    nrm = ["c_nrm"] if metric == "cos" else []
    fields = ", ".join(dict.fromkeys([c_id, c_vec, *nrm, *carry]))
    cands = F.expr(f"array_sort(collect_list(struct({fields})))").alias("cands")
    if key is None:
        joined = df.crossJoin(F.broadcast(cents.agg(cands)))
    else:
        joined = df.join(F.broadcast(cents.groupBy(key).agg(cands)), key)
    if metric == "l2":
        fold, sign = "array_min", ""
        score = L2.format(a=vec, b=f"c.{c_vec}")
    elif metric == "cos":
        fold, sign = "array_max", "-"
        score = f"{DOT.format(a=vec, b=f'c.{c_vec}')} / (nrm * c.c_nrm)"
    else:
        raise ValueError(f"nearest: unknown metric {metric!r}")
    best = ", ".join(
        [f"round({score}, {digits}) AS score", f"{sign}c.{c_id} AS id"]
        + [f"c.{c} AS {c}" for c in carry]
    )
    win = F.col("best.id")
    return joined.select(
        *df.columns,
        F.expr(f"{fold}(transform(cands, c -> struct({best})))").alias("best"),
    ).select(
        *df.columns,
        (-win if sign else win).alias(c_id),
        F.col("best.score").alias("score"),
        *[F.col(f"best.{c}").alias(c) for c in carry],
    )
