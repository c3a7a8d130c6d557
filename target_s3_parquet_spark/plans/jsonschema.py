"""JSON Schema (Draft 4) → Spark ``StructType`` conversion and the
recursive ``parent__child`` flatten projection.

This is the schema half of the reference's signature transform
(reference ``target_s3_parquet/utils.py:65-111`` computes flattened
leaf names; ``utils.py:34-62`` flattens records). Differences by
design (SURVEY §1.2-1.4):

- The reference never *applies* its schema when writing — Arrow infers
  per batch, so files drift in column set/order/types. Here the
  StructType is authoritative: ordered, stable, fully typed.
- ``compat=True`` reproduces the reference's on-disk model exactly:
  nested objects become ``parent__child`` string-joined columns,
  arrays are stringified like Python ``str(list)`` (``utils.py:61``),
  ``date-time`` strings stay strings.
- ``compat=False`` (default) is lossless: arrays stay ``ArrayType``,
  ``date-time`` becomes ``TimestampType``, decimals honored via
  ``multipleOf``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEP = "__"

_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def _json_type(prop: dict[str, Any]) -> tuple[str | None, bool]:
    """Extract (primary type, nullable) from a JSON-Schema property whose
    ``type`` may be a string or a ``["null", T]`` union."""
    t = prop.get("type")
    if t is None:
        return None, True
    if isinstance(t, str):
        return t, False
    types = [x for x in t if x != "null"]
    nullable = "null" in t or not types
    return (types[0] if types else None), nullable


def _leaf_type(prop: dict[str, Any], compat: bool) -> T.DataType:
    jtype, _ = _json_type(prop)
    if jtype == "integer":
        lo, hi = prop.get("minimum"), prop.get("maximum")
        if (
            lo is not None
            and hi is not None
            and lo >= _INT32_MIN
            and hi <= _INT32_MAX
        ):
            return T.IntegerType()
        return T.LongType()
    if jtype == "number":
        mult = prop.get("multipleOf")
        if not compat and mult is not None:
            # e.g. multipleOf 0.01 → scale 2
            s = max(0, len(str(mult).split(".")[-1])) if "." in str(mult) else 0
            return T.DecimalType(38, s)
        return T.DoubleType()
    if jtype == "boolean":
        return T.BooleanType()
    if jtype == "string":
        if not compat and prop.get("format") == "date-time":
            return T.TimestampType()
        # format: time / date etc. stay strings (Spark has no TimeType)
        return T.StringType()
    if jtype == "array":
        # compat mode also parses as ArrayType — the flatten projection
        # then stringifies it into the reference's str(list) form
        # (parsing straight to string would keep raw JSON instead).
        items = prop.get("items") or {}
        return T.ArrayType(_leaf_type(items, compat) if not _is_object(items) else jsonschema_to_spark(items, compat=compat))
    # untyped → permissive string (the reference warns and keeps it:
    # utils.py:106)
    return T.StringType()


def _is_object(prop: dict[str, Any]) -> bool:
    jtype, _ = _json_type(prop)
    return jtype == "object" or ("properties" in prop and jtype is None)


def jsonschema_to_spark(schema: dict[str, Any], compat: bool = False) -> T.StructType:
    """Convert a Singer SCHEMA message's JSON Schema into a nested
    StructType (field order = declaration order, fixing the reference's
    nondeterministic ``set`` accumulation at ``__init__.py:163-168``)."""
    fields = []
    for name, prop in (schema.get("properties") or {}).items():
        if _is_object(prop):
            dt: T.DataType = jsonschema_to_spark(prop, compat=compat)
        else:
            dt = _leaf_type(prop, compat)
        # Always nullable: Singer records may omit any declared field
        # (the reference nulls missing fields, __init__.py:167).
        fields.append(T.StructField(name, dt, nullable=True))
    return T.StructType(fields)


def flatten_schema(schema: dict[str, Any], parent_key: str = "", sep: str = SEP) -> list[str]:
    """Flattened leaf column names for a JSON Schema — same recursion the
    reference does at schema level (``utils.py:65-111``): recurse only
    into ``object``; arrays (even of objects) stay one leaf."""
    out: list[str] = []
    for name, prop in (schema.get("properties") or {}).items():
        key = f"{parent_key}{sep}{name}" if parent_key else name
        if _is_object(prop):
            out.extend(flatten_schema(prop, key, sep))
        else:
            out.append(key)
    return out


def _stringify_array(col: Column, elem_type: T.DataType) -> Column:
    """Reproduce Python ``str(list)`` for an array column (reference
    ``utils.py:61`` applies ``str()`` to list values): strings are
    quoted with ``'``, numerics bare, null → ``None``."""
    if isinstance(elem_type, T.StringType):
        inner = F.array_join(
            F.transform(col, lambda x: F.concat(F.lit("'"), x, F.lit("'"))),
            ", ",
            null_replacement="None",
        )
    else:
        inner = F.array_join(
            F.transform(col, lambda x: x.cast("string")), ", ", null_replacement="None"
        )
    return F.when(
        col.isNotNull(), F.concat(F.lit("["), inner, F.lit("]"))
    )


def flatten_columns(
    dtype: T.StructType, parent: tuple[str, ...] = (), sep: str = SEP, compat: bool = False
) -> list[Column]:
    """Projection list that flattens a (possibly nested) StructType into
    ``parent__child`` leaf columns — the record half of the reference's
    flatten (``utils.py:34-62``) as a pure Catalyst ``select``: runs in
    whole-stage codegen, costs no shuffle, and column pruning still
    reaches through it. Fields are addressed by name, never by a dotted
    path string, so a key such as ``a.b`` stays one column named
    ``a.b``, as in the reference."""
    cols: list[Column] = []
    for field in dtype.fields:
        path = (*parent, field.name)
        if isinstance(field.dataType, T.StructType):
            cols.extend(flatten_columns(field.dataType, path, sep, compat))
            continue
        col = F.col("`%s`" % path[0].replace("`", "``"))
        for name in path[1:]:
            col = col.getField(name)
        if isinstance(field.dataType, T.ArrayType) and compat:
            col = _stringify_array(col, field.dataType.elementType)
        cols.append(col.alias(sep.join(path)))
    return cols


def flatten_df(df: DataFrame, sep: str = SEP, compat: bool = False) -> DataFrame:
    """Flatten every nested struct column of ``df`` into top-level
    ``parent__child`` columns."""
    return df.select(*flatten_columns(df.schema, (), sep, compat))
