"""Runtime type dispatch over Spark VariantType columns.

The reference validates a dynamically-decoded ``interface{}`` tree and
dispatches every keyword on the value's RUNTIME type (typeOf,
/root/reference/type.go:3-20).  Fixed Spark columns resolve that
dispatch statically; a ``VariantType`` column (Spark 4 semi-structured
binary encoding) carries the runtime JSON type per row, so the same
dispatch compiles to per-row Column expressions here.

Kind universe mirrors the reference's ``_type``:
``string | number | bool | object | array | null`` — JSON numbers are
Go ``float64`` (encoding/json decodes every number to float64), so the
numeric view casts to double, replicating Go's 53-bit precision
behavior exactly.

All helpers are pure Column expressions (whole-stage codegen; no Python
in any row path).  ``schema_of_variant`` is only evaluated on scalars —
the container guards short-circuit first — so kind classification costs
O(1) per scalar leaf.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .coerce import double_string

KIND_STRING = "string"
KIND_NUMBER = "number"
KIND_BOOL = "bool"
KIND_OBJECT = "object"
KIND_ARRAY = "array"
KIND_NULL = "null"

# reflect.TypeOf(value).String() for each JSON runtime type — byte-exact
# "given:" labels in type-keyword messages (validator_base.go:55,74,92)
GO_TYPE_LABELS = {
    KIND_STRING: "string",
    KIND_NUMBER: "float64",
    KIND_BOOL: "bool",
    KIND_OBJECT: "map[string]interface {}",
    KIND_ARRAY: "[]interface {}",
    KIND_NULL: "<nil>",
}


def variant_object(col: Column) -> Column:
    """map<string,variant> view; NULL when the value is not a JSON
    object (the reference's ``value.(map[string]interface{})`` guard)."""
    return F.try_variant_get(col, "$", "map<string,variant>")


def variant_array(col: Column) -> Column:
    """array<variant> view; NULL when not a JSON array."""
    return F.try_variant_get(col, "$", "array<variant>")


def _scalar_schema(col: Column) -> Column:
    return F.schema_of_variant(col)


def variant_kind(col: Column) -> Column:
    """Per-row kind ∈ {string,number,bool,object,array,null}; NULL for
    a SQL-null (missing) variant.  Container checks run first so
    ``schema_of_variant`` never walks a whole object/array."""
    sch = _scalar_schema(col)
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(F.is_variant_null(col), F.lit(KIND_NULL))
        .when(variant_object(col).isNotNull(), F.lit(KIND_OBJECT))
        .when(variant_array(col).isNotNull(), F.lit(KIND_ARRAY))
        .when(sch == "STRING", F.lit(KIND_STRING))
        .when(sch == "BOOLEAN", F.lit(KIND_BOOL))
        .otherwise(F.lit(KIND_NUMBER))  # BIGINT / DECIMAL(p,s) / DOUBLE
    )


def go_type_label(col: Column) -> Column:
    """reflect.TypeOf(...).String() as a Column, from the kind."""
    k = variant_kind(col)
    out = F.lit(None).cast("string")
    expr = None
    for kind, label in GO_TYPE_LABELS.items():
        expr = (F.when(k == kind, label) if expr is None else expr.when(k == kind, label))
    return expr.otherwise(out)


def variant_string(col: Column) -> Column:
    """Strict string view: the value iff it is a JSON string, else NULL
    (variant casts COERCE — numbers render to text — so every strict
    view guards on kind first)."""
    return F.when(
        _scalar_schema(col) == "STRING", F.try_variant_get(col, "$", "string")
    )


def variant_double(col: Column) -> Column:
    """Strict numeric view as double — the reference's valueOfFloat
    (validator_base.go:405-425): JSON numbers only, never coerced
    strings/bools."""
    sch = _scalar_schema(col)
    is_num = (
        col.isNotNull()
        & ~F.is_variant_null(col)
        & ~sch.isin("STRING", "BOOLEAN", "VOID", "BINARY")
        & ~sch.startswith("OBJECT")
        & ~sch.startswith("ARRAY")
    )
    return F.when(is_num, F.try_variant_get(col, "$", "double"))


def variant_bool(col: Column) -> Column:
    """Strict boolean view."""
    return F.when(
        _scalar_schema(col) == "BOOLEAN", F.try_variant_get(col, "$", "boolean")
    )


def nn_size(col: Column) -> Column:
    """NULL-propagating size: F.size(NULL) is NULL only under ANSI
    mode (-1 with spark.sql.ansi.enabled=false), and the variant
    branches use a NULL container VIEW as their "not this kind, skip"
    signal — an unguarded -1 would fire min-bound keywords on values
    the reference skips entirely."""
    return F.when(col.isNotNull(), F.size(col))


def variant_json(col: Column) -> Column:
    """JSON text of any variant value (container stringification — the
    static path renders containers with to_json; kept consistent)."""
    return F.to_json(col)


def variant_string_of(col: Column) -> Column:
    """StringOf (common.go:71-91) with runtime dispatch: string as-is,
    bool -> "true"/"false", number -> shortest fixed form, null -> ""."""
    k = variant_kind(col)
    d = F.try_variant_get(col, "$", "double")
    return (
        F.when(col.isNull() | F.is_variant_null(col), F.lit(""))
        .when(k == KIND_STRING, F.try_variant_get(col, "$", "string"))
        .when(k == KIND_BOOL, F.when(F.try_variant_get(col, "$", "boolean"), "true").otherwise("false"))
        .when(k == KIND_NUMBER, double_string(d))
        .otherwise(F.coalesce(F.to_json(col), F.lit("")))
    )


def variant_number_of(col: Column) -> Column:
    """NumberOf (common.go:93-112, string-parse bug fixed as in
    core/coerce.py): number -> value, bool -> 1/0, numeric string ->
    parsed, "true" -> 1, everything else -> 0."""
    k = variant_kind(col)
    s = F.try_variant_get(col, "$", "string")
    return F.coalesce(
        F.when(k == KIND_NUMBER, F.try_variant_get(col, "$", "double"))
        .when(k == KIND_BOOL, F.when(F.try_variant_get(col, "$", "boolean"), 1.0).otherwise(0.0))
        .when(
            k == KIND_STRING,
            F.coalesce(
                s.try_cast("double"),
                F.when(s == "true", F.lit(1.0)).otherwise(F.lit(0.0)),
            ),
        ),
        F.lit(0.0),
    )


def variant_bool_of(col: Column) -> Column:
    """BoolOf (common.go:114-129): number > 0, string == "true"."""
    k = variant_kind(col)
    return F.coalesce(
        F.when(k == KIND_BOOL, F.try_variant_get(col, "$", "boolean"))
        .when(k == KIND_NUMBER, F.try_variant_get(col, "$", "double") > 0)
        .when(k == KIND_STRING, F.try_variant_get(col, "$", "string") == "true"),
        F.lit(False),
    )


def variant_path_key(name: str) -> str | None:
    """Variant-get path for one object key, or None when the key
    cannot be expressed as a path.  Bare identifiers use dot form;
    anything else is bracket-quoted.  Spark's variant path parser has
    NO escape syntax — the bracket body is matched LITERALLY (a
    backslash in the key is a backslash in the path), so a key
    containing a single quote has no path form at all (probed on
    Spark 4.1.2: $['a\\'b'] is INVALID_VARIANT_GET_PATH)."""
    import re

    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return f"$.{name}"
    if "'" in name:
        return None
    return f"$['{name}']"


def variant_child(col: Column, name: str) -> Column:
    """One object-key descent: the path form when expressible (cheap
    binary walk), else a map-view lookup — same semantics (absent key
    -> SQL NULL, present JSON null -> variant-null) for ANY key."""
    path = variant_path_key(name)
    if path is not None:
        return F.try_variant_get(col, path, "variant")
    return F.try_element_at(variant_object(col), F.lit(name))
