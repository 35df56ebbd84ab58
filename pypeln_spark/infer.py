"""Schema inference + opaque-object fallback.

The reference flows arbitrary Python objects through its queues
(pypeln/utils.py:16,46-48 — ``Element.value`` is an unconstrained TypeVar).
On Spark we keep the same contract two ways:

- values whose type maps cleanly onto a Spark SQL type become a typed
  ``value`` column (columnar, Arrow-vectorized, Catalyst-optimizable);
- anything else is pickled into a ``BinaryType`` column and transparently
  un/re-pickled at every Python UDF edge (correct, but the slow path — the
  docstring equivalent of the reference's "queues pickle whole objects",
  docs/advanced.md:84).

``to_arrow`` and ``from_arrow`` move driver-side Python values in and out
of Arrow with the semantics of ``createDataFrame`` of a list and of
``collect()``, so a value means the same thing on either route.
"""

from __future__ import annotations

import datetime as dt
import decimal
import pickle
import typing as tp

from pyspark.sql import types as T

try:  # cloudpickle handles lambdas/closures inside payloads
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp  # type: ignore


def dumps(obj: tp.Any) -> bytes:
    try:
        return pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL)
    except Exception:
        return _cp.dumps(obj)


def loads(data: bytes) -> tp.Any:
    return pickle.loads(data)


_SIMPLE = {
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bytes: T.BinaryType(),
    bytearray: T.BinaryType(),
    dt.datetime: T.TimestampType(),
    dt.date: T.DateType(),
    decimal.Decimal: T.DecimalType(38, 18),
}


def infer_spark_type(value: tp.Any) -> tp.Optional[T.DataType]:
    """Best-effort Spark type for a sample value; None → use pickle fallback."""
    if value is None:
        return None
    t = type(value)
    if t in _SIMPLE:
        # bool is a subclass of int — dict lookup by exact type handles it
        return _SIMPLE[t]
    if t is list:  # tuples stay pickled so they round-trip as tuples
        if not value:
            return None
        elem = infer_spark_type(value[0])
        if elem is None:
            return None
        # all elements must agree for a typed array
        for v in value[1:]:
            if infer_spark_type(v) != elem:
                return None
        return T.ArrayType(elem)
    if t is dict:
        if not value:
            return None
        kt = infer_spark_type(next(iter(value.keys())))
        vts = {str(infer_spark_type(v)) for v in value.values()}
        if kt is None or len(vts) != 1 or "None" in vts:
            return None
        return T.MapType(kt, infer_spark_type(next(iter(value.values()))))
    # numpy scalars
    mod = getattr(t, "__module__", "")
    if mod == "numpy":
        import numpy as np

        if isinstance(value, np.integer):
            return T.LongType()
        if isinstance(value, np.floating):
            return T.DoubleType()
        if isinstance(value, np.bool_):
            return T.BooleanType()
    return None


def _opt(f: tp.Callable, v: tp.Any) -> tp.Any:
    return None if v is None else f(v)


def _same(v: tp.Any) -> tp.Any:
    return v


_WIDE = decimal.Context(prec=100)  # room to round any Spark decimal exactly


def _internal(t: T.DataType) -> tp.Optional[tp.Callable[[tp.Any], tp.Any]]:
    """Converter from a Python value of Spark type ``t`` to the value Arrow
    must hold so that it means what ``createDataFrame`` of a list stores;
    None when the value passes as it is. Timestamps become microseconds
    through Spark's own ``toInternal`` (a naive datetime is a process-local
    instant), decimals round half-up to the type's scale (non-finite ones
    are null), structs become field tuples by name or position."""
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return t.toInternal
    if isinstance(t, T.DecimalType):
        q = decimal.Decimal(1).scaleb(-t.scale)
        return lambda v: v.quantize(q, decimal.ROUND_HALF_UP, _WIDE) if v.is_finite() else None
    if isinstance(t, T.ArrayType):
        f = _internal(t.elementType)
        return f and (lambda v: [_opt(f, x) for x in v])
    if isinstance(t, T.MapType):
        fk, fv = _internal(t.keyType), _internal(t.valueType)
        if fk is None and fv is None:
            return None
        fk, fv = fk or _same, fv or _same
        return lambda v: {fk(k): _opt(fv, x) for k, x in v.items()}
    if isinstance(t, T.StructType):
        names = t.names
        fs = [_internal(f.dataType) or _same for f in t.fields]

        def row(v):
            if isinstance(v, dict):
                v = [v.get(n) for n in names]
            elif isinstance(v, T.Row) and hasattr(v, "__fields__"):
                v = [v[n] for n in names]
            elif not isinstance(v, (tuple, list)):
                v = [v.__dict__.get(n) for n in names]
            return tuple(_opt(f, x) for f, x in zip(fs, v))

        return row
    return None


def to_arrow(values: tp.Sequence[tp.Any], t: T.DataType):
    """``values`` as an Arrow array of Spark type ``t``, holding what
    ``createDataFrame`` of the same list would store."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    f = _internal(t)
    if f is not None:
        values = [_opt(f, v) for v in values]
    return pa.array(values, type=to_arrow_type(t))


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_US = dt.timedelta(microseconds=1)


def _collected(t: T.DataType) -> tp.Optional[tp.Callable[[tp.Any], tp.Any]]:
    """Converter from Arrow's ``to_pylist`` value of Spark type ``t`` to the
    value ``collect()`` returns; None when they already agree."""
    if isinstance(t, T.TimestampType):  # aware UTC -> naive process-local
        return lambda v: t.fromInternal((v - _EPOCH) // _US)
    if isinstance(t, T.ArrayType):
        f = _collected(t.elementType)
        return f and (lambda v: [_opt(f, x) for x in v])
    if isinstance(t, T.MapType):  # Arrow lists a map's (key, value) pairs
        fk, fv = _collected(t.keyType) or _same, _collected(t.valueType) or _same
        return lambda v: {fk(k): _opt(fv, x) for k, x in v}
    if isinstance(t, T.StructType):
        names = t.names
        fs = [_collected(f.dataType) or _same for f in t.fields]
        return lambda v: T._create_row(names, [_opt(f, v[n]) for f, n in zip(fs, names)])
    return None


def from_arrow(arr, t: T.DataType) -> tp.List[tp.Any]:
    """The Python values of Arrow array ``arr`` (Spark type ``t``) as
    ``collect()`` of the same column returns them."""
    f = _collected(t)
    values = arr.to_pylist()
    return values if f is None else [_opt(f, v) for v in values]


def infer_common_type(samples: tp.Iterable[tp.Any]) -> tp.Optional[T.DataType]:
    """Single type covering every sample, or None for the pickle fallback."""
    result: tp.Optional[T.DataType] = None
    saw_any = False
    for v in samples:
        if v is None:
            continue
        saw_any = True
        t = infer_spark_type(v)
        if t is None:
            return None
        if result is None:
            result = t
        elif result != t:
            # int+float promote to double; anything else → pickle
            kinds = {str(result), str(t)}
            if kinds == {"LongType()", "DoubleType()"}:
                result = T.DoubleType()
            else:
                return None
    return result if saw_any else None
