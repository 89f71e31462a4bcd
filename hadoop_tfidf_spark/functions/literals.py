"""Driver-side values as literals inside the plan: one array literal
(:func:`_lit_array`) and one small relation (:func:`_local_relation`).

This is the package's one way to put driver-side rows into a plan.
A DataFrame made from a Python list would parallelize a pickled Python
RDD, which starts Python workers on every call; a literal never leaves
the JVM and optimizes to a constant. The helpers take only what a caller
has already bounded, so neither switches on size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _sql_literal(v, dtype: ArrayType) -> str:
    """SQL text of one array of ``dtype``: nested levels as ``ARRAY(…)``,
    and each innermost vector as ONE string literal that the plan splits
    and casts. The cast parses integers exactly and doubles with
    ``Double.parseDouble`` from their shortest round-trip ``repr``, so
    each value — ``-0.0``, subnormals, ``inf`` and ``nan`` included —
    comes back bit for bit, and the SQL
    parser sees one token per vector instead of one per element (on a
    4-vCPU VM a 48×64 double array took 0.25 s to analyze as ``0.1D``
    literals, ~0.02 s as strings)."""
    if v is None:
        return "NULL"
    el = dtype.elementType
    if isinstance(el, ArrayType):
        return "ARRAY(" + ", ".join(_sql_literal(x, el) for x in v) + ")"
    if not len(v):
        return "ARRAY()"
    if isinstance(el, (DoubleType, FloatType)):
        nums = ",".join(repr(float(x)) for x in v)
    else:
        nums = ",".join(str(int(x)) for x in v)
    return f"CAST(split('{nums}', ',') AS {dtype.simpleString()})"


def _lit_array(values, dtype: ArrayType | None = None) -> Column:
    """A vector, matrix or 3-level codebook literal, of ``bigint``
    unless ``dtype`` says otherwise.

    ``F.lit(list)`` builds ``array(lit(x), …)`` level by level with one
    py4j round trip per element (~130 ms for a 16×16 centroid matrix,
    and a build or search plan holds several), and types each element
    from its value, so small ints come out ``int`` and a sum of two
    entries near 2^30 overflows under ANSI mode. Instead the literal is
    one SQL expression (:func:`_sql_literal`), built in a single call
    with one cast to the whole array's type; the optimizer folds it into
    a single constant. Measured when the nested literals replaced
    per-element ``F.array`` construction: an IVF assign job over 16×64
    centroids dropped ~2-3× in wall time."""
    if dtype is None:
        dtype, probe = ArrayType(LongType()), values[0] if len(values) else None
        while isinstance(probe, (list, tuple)) and len(probe):
            dtype, probe = ArrayType(dtype), probe[0]
    return F.expr(f"CAST({_sql_literal(values, dtype)} AS {dtype.simpleString()})")


def _local_relation(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A small driver-side relation as a literal inside the plan: the
    ``schema`` (DDL) rows as ``inline(arrays_zip(…))`` over ``SELECT 1``,
    which optimizes to ``Generate inline`` over ``OneRowRelation``.
    Unlike a DataFrame made from a Python list, which parallelizes a
    pickled RDD and so starts Python workers on every call, nothing
    leaves the JVM; an empty ``rows`` gives 0 rows.

    The literal is built a column at a time: a string column is an array
    of ``F.lit`` values (the JVM escapes them), any other column one
    :func:`_lit_array` literal (exact; a whole array value may be null,
    a number may not), and one cast of the zipped rows gives the
    schema's names and types. Every field comes out nullable, nested
    ones included: the zipped columns are nullable, and Spark refuses a
    cast from nullable to ``NOT NULL``, which ``DataFrame.schema.toDDL()``
    writes for aggregated and literal columns. A struct per row would cost
    ~4 py4j round trips a row (on a 4-vCPU VM, 0.56 s to build 192 probe
    rows against 0.07 s a column at a time). Plan build cost still grows
    with the literal, so every caller bounds it:

    * ``search.query_term_bag``: one row per query the caller lists;
    * the driver probes of ``similarity.ivf_topk`` / ``ivfpq_topk`` /
      ``ivfsq_topk``: at most ``DRIVER_PROBE_MAX`` constants;
    * ``streaming.incremental.IncrementalTfidfStats``: 0 rows (tables
      before the first commit) and the 1-row commit ``meta`` of each
      micro-batch; ``streaming.dedup.IncrementalLshIndex``: 0 rows;
    * ``relational.price_band_summary``: 3 bands;
    * ``extensions``: 4×64 PCA component rows, 3 straddling query
      vectors, 4 hybrid-search query ids;
    * ``cli``: the 6-row tier frontier and ``bpe-train --merges`` rows."""
    st = StructType.fromDDL(schema)
    if any(len(row) != len(st.fields) for row in rows):
        raise ValueError(f"every row needs the {len(st.fields)} fields of {schema!r}")
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    arrays = [
        F.array(*[F.lit(v) for v in col]) if isinstance(f.dataType, StringType)
        else _lit_array(list(col), ArrayType(f.dataType))
        for col, f in zip(cols, st.fields)
    ]
    return spark.sql("SELECT 1").select(
        F.inline(F.arrays_zip(*arrays).cast(ArrayType(_nullable(st))))
    )


def _nullable(t: DataType) -> DataType:
    """``t`` with every struct field and array element nullable, at
    every depth."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    return t
