"""Assertion keywords (reference validator_base.go / validator_core.go
/ validator_strings.go / validator_properties.go), compiled to pure
Column expressions — no per-row Python anywhere.

Null semantics replicate the reference's null-skip fast paths
(validator_base.go:180-183, 461-463): a null/missing value passes every
check except `required` (and the Compare-map forms, which see Go zero
values — compare.go:23-27).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.coerce import (
    bool_of,
    coerce_literal_for,
    number_of,
    string_of,
)
from ..core.errors import go_num, go_v
from ..core.refs import ValueRef, resolve
from ..functions.values import parse_value
from .compiler import EmitRule, Rule, SchemaError, register_keyword
from .formats import compile_format


def _skip_null(ref: ValueRef, out, v: Column) -> Column:
    if not ref.exists:
        return out.none()
    return F.when(ref.null(), out.none()).otherwise(v)


def _check(ref: ValueRef, out, cond: Column, info) -> Column:
    """A value assertion from its one ``(cond, info)`` pair: the
    value fails when ``cond`` holds; a null or missing value passes."""
    return _skip_null(ref, out, out.term(cond, ref.path, info))


def _is_numeric(dt) -> bool:
    return isinstance(dt, T.NumericType)


def _is_integral(dt) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _type_names(dt) -> set[str]:
    """Static classification of a Spark dtype into the reference's
    runtime type universe (typeOf, type.go:3-20)."""
    if isinstance(dt, T.StringType):
        return {"string"}
    if isinstance(dt, T.BooleanType):
        return {"boolean", "bool"}
    if _is_integral(dt):
        return {"number", "integer"}
    if _is_numeric(dt):
        return {"number"}  # integer needs runtime frac check
    if isinstance(dt, T.ArrayType):
        return {"array"}
    if isinstance(dt, (T.StructType, T.MapType)):
        return {"object"}
    if isinstance(dt, (T.TimestampType, T.DateType)):
        # reference carries time as RFC3339 strings (funcs.go:245-247)
        return {"string"}
    return set()


def _elem_type(aref: ValueRef):
    """Element dtype of a statically typed array ref; None for variant
    elements and non-arrays (their rules keep the lambda)."""
    dt = aref.dtype
    if isinstance(dt, T.ArrayType) and not isinstance(dt.elementType, T.VariantType):
        return dt.elementType
    return None


def _some_non_null(arr: Column) -> Column:
    """Some element of an array of orderable scalars is non-NULL
    (array_max skips NULLs; an empty or NULL array gives NULL)."""
    return F.array_max(arr).isNotNull()


def _is_scalar(dt) -> bool:
    return isinstance(dt, (T.StringType, T.BooleanType, T.NumericType))


# --------------------------------------------------------------- type

@register_keyword("type")
def kw_type(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, str):
        raise SchemaError(f"value of 'type' must be string! path:{path}")
    wanted = [t.strip() for t in operand.split("|")]
    union = len(wanted) > 1

    def emit(ref: ValueRef, out) -> Column:
        if "any" in wanted:
            return out.none()
        dt = ref.dtype
        if isinstance(dt, T.VariantType):
            return _type_variant(ref, out, wanted, union, operand)
        have = _type_names(dt) if dt is not None else set()
        checks: list[Column] = []
        for w in wanted:
            if w in have:
                checks.append(F.lit(True))
            elif w == "integer" and _is_numeric(dt) and not _is_integral(dt):
                checks.append(ref.col == F.floor(ref.col))
            else:
                checks.append(F.lit(False))
        ok = checks[0]
        for c in checks[1:]:
            ok = ok | c
        if union:
            info = F.lit(f"type should be one of {operand}")
        elif wanted[0] == "integer" and _is_numeric(dt) and not _is_integral(dt):
            info = F.concat(
                F.lit("type should be integer, but float:"), string_of(ref.col, dt)
            )
        else:
            given = dt.simpleString() if dt is not None else "null"
            info = F.lit(f"Invalid type, expected: {wanted[0]} , given: {given}")
        return _check(ref, out, ~ok, info)

    def any_kernel(aref: ValueRef) -> Column | None:
        # a typed element's check is decided by its dtype alone (except
        # integer on a fractional type): fold it at build time
        if "any" in wanted:
            return F.lit(False)
        dt = _elem_type(aref)
        if dt is None:
            return None
        have = _type_names(dt)
        if any(w in have for w in wanted):
            return F.lit(False)
        if "integer" in wanted and _is_numeric(dt) or not _is_scalar(dt):
            return None
        return _some_non_null(aref.col)

    return EmitRule(emit, any_kernel)


def _type_variant(ref: ValueRef, out, wanted, union, operand) -> Column:
    """Runtime type dispatch on a Variant value — the exact typeOf
    switch (type.go:3-20) with reflect.TypeOf 'given:' labels
    (validator_base.go:44-160)."""
    from ..core.variant import (
        KIND_ARRAY,
        KIND_BOOL,
        KIND_NUMBER,
        KIND_OBJECT,
        KIND_STRING,
    )

    kind = ref.v_kind()
    d = ref.v_double()

    def ok_of(w: str) -> Column:
        if w == "string":
            return kind == KIND_STRING
        if w in ("bool", "boolean"):
            return kind == KIND_BOOL
        if w == "number":
            return kind == KIND_NUMBER
        if w == "integer":
            # float64 with zero fraction passes (validator_base.go:95-101)
            return (kind == KIND_NUMBER) & (d == F.floor(d))
        if w == "object":
            return kind == KIND_OBJECT
        if w == "array":
            return kind == KIND_ARRAY
        return F.lit(False)  # lower/upper/unknown: parity with static path

    ok = ok_of(wanted[0])
    for w in wanted[1:]:
        ok = ok | ok_of(w)
    if union:
        info = F.lit(f"type should be one of {operand}")
    elif wanted[0] == "integer":
        info = F.when(
            kind == KIND_NUMBER,
            F.concat(
                F.lit("type should be integer, but float:"),
                ref.str_of(),
            ),
        ).otherwise(
            F.concat(
                F.lit("Invalid type, expected: integer , given: "),
                ref.go_label(),
            )
        )
    else:
        info = F.concat(
            F.lit(f"Invalid type, expected: {wanted[0]} , given: "),
            ref.go_label(),
        )
    return _check(ref, out, ~ok, info)


# ------------------------------------------------------- length bounds

def _length_of(ref: ValueRef) -> Column | None:
    dt = ref.dtype
    if isinstance(dt, T.VariantType):
        # runtime dispatch (MaxLength.Validate switches on string/array,
        # validator_base.go:257-275); NULL on other kinds -> no check
        from ..core.variant import nn_size

        return F.coalesce(
            F.octet_length(ref.v_string()),
            nn_size(ref.v_array()),
        )
    if isinstance(dt, T.ArrayType):
        return F.size(ref.col)
    if isinstance(dt, T.StringType) or dt is None:
        # Go len(string) is bytes (validator_base.go:258-264)
        return F.octet_length(ref.col.cast("string"))
    return None


@register_keyword("maxLength")
def kw_max_length(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "maxLength", path)

    def emit(ref: ValueRef, out) -> Column:
        ln = _length_of(ref)
        if ln is None:
            return out.none()
        return _check(ref, out, ln > n, f"length must be less or equal than {n}")

    return EmitRule(emit)


@register_keyword("minLength")
def kw_min_length(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minLength", path)

    def emit(ref: ValueRef, out) -> Column:
        ln = _length_of(ref)
        if ln is None:
            return out.none()
        return _check(ref, out, ln < n, f"length must be larger or equal than {n}")

    return EmitRule(emit)


def _int_operand(operand, kw, path) -> int:
    if isinstance(operand, bool) or not isinstance(operand, (int, float)):
        raise SchemaError(f"value of '{kw}' must be int: path:{path}")
    if operand < 0:
        raise SchemaError(f"value of '{kw}' must be >=0, path:{path}")
    return int(operand)


# ------------------------------------------------------ numeric bounds

def _num_operand(operand, kw, path) -> float:
    if isinstance(operand, bool) or not isinstance(operand, (int, float)):
        raise SchemaError(f"value of '{kw}' must be number, path:{path}")
    return float(operand)


def _numeric_value(ref: ValueRef) -> Column | None:
    """Numeric view of the current value; None when statically
    non-numeric (bounds skip, as the reference skips non-float64)."""
    dt = ref.dtype
    if isinstance(dt, T.VariantType):
        # strict: JSON numbers only, exactly valueOfFloat
        # (validator_base.go:405-425) — no string/bool coercion
        return ref.v_double()
    if _is_numeric(dt):
        return ref.col.cast("double")
    if isinstance(dt, (T.TimestampType, T.DateType)):
        return ref.col.cast("timestamp").cast("double")
    if isinstance(dt, T.StringType) or dt is None:
        return ref.col.cast("string").try_cast("double")
    return None


def _bound_rule(fail, info: str) -> Rule:
    """A numeric bound: a value fails when ``fail(c)`` (NULL passes)."""

    def emit(ref: ValueRef, out) -> Column:
        c = _numeric_value(ref)
        if c is None:
            return out.none()
        return _check(ref, out, fail(c), info)

    return EmitRule(emit)


@register_keyword("maximum")
def kw_maximum(operand, path, siblings, ctx) -> Rule:
    v = _num_operand(operand, "maximum", path)
    # sibling bool exclusiveMaximum folds into a strict bound
    # (validator_base.go:365-375)
    if siblings.get("exclusiveMaximum") is True:
        return _bound_rule(lambda c: ~(c < v), f"value must be  < {go_num(v)}")
    return _bound_rule(lambda c: ~(c <= v), f"value must be <= than {go_num(v)}")


@register_keyword("minimum")
def kw_minimum(operand, path, siblings, ctx) -> Rule:
    v = _num_operand(operand, "minimum", path)
    if siblings.get("exclusiveMinimum") is True:
        return _bound_rule(lambda c: ~(c > v), f"value must be larger than {go_num(v)}")
    return _bound_rule(lambda c: ~(c >= v), f"value must be larger or equal than {go_num(v)}")


@register_keyword("exclusiveMaximum")
def kw_exclusive_maximum(operand, path, siblings, ctx) -> Rule | None:
    # bool form: modifier consumed by sibling maximum
    # (validator_core.go:887-951 3-state status)
    if isinstance(operand, bool):
        return None
    v = _num_operand(operand, "exclusiveMaximum", path)
    return _bound_rule(lambda c: ~(c < v), f"value should be < {go_v(operand)}")


@register_keyword("exclusiveMinimum")
def kw_exclusive_minimum(operand, path, siblings, ctx) -> Rule | None:
    if isinstance(operand, bool):
        return None
    v = _num_operand(operand, "exclusiveMinimum", path)
    return _bound_rule(lambda c: ~(c > v), f"value should be > {go_v(operand)}")


@register_keyword("multipleOf")
def kw_multiple_of(operand, path, siblings, ctx) -> Rule:
    m = _num_operand(operand, "multipleOf", path)
    if m == 0:
        raise SchemaError(f"multipleOf must not be 0, path:{path}")

    def emit(ref: ValueRef, out) -> Column:
        c = _numeric_value(ref)
        if c is None:
            return out.none()
        q = c / m
        fail = q != F.floor(q)
        info = F.concat(
            F.lit(f"value must be multipleOf {go_num(m)},but:"),
            string_of(c, T.DoubleType()),
            F.lit(", divide:"),
            string_of(q, T.DoubleType()),
        )
        return _check(ref, out, fail, info)

    return EmitRule(emit)


# -------------------------------------------------------- enum / const

def _enum_rule(operand, path, keyword) -> Rule:
    if not isinstance(operand, list) or not operand:
        raise SchemaError(f"value of '{keyword}' must be non-empty array, path:{path}")
    msg = f"value is invalid , shoule be one of {go_v(operand)}"  # sic (validator_base.go:477)

    def values_for(dt) -> list:
        """The operand coerced for an LHS of type ``dt``."""
        lits = [coerce_literal_for(dt, v) for v in operand]
        if dt is not None and _is_numeric(dt):
            return [float(x) for x in lits]
        if isinstance(dt, T.BooleanType):
            return [bool(x) for x in lits]
        return [str(x) for x in lits]

    def emit(ref: ValueRef, out) -> Column:
        dt = ref.dtype
        # coercing Equal keyed on LHS type (common.go:142-154)
        if isinstance(dt, T.VariantType):
            # runtime LHS kind picks the comparison family per row
            from ..core.variant import KIND_BOOL, KIND_NUMBER

            k = ref.v_kind()
            ok = (
                F.when(k == KIND_NUMBER, ref.num_of().isin(values_for(T.DoubleType())))
                .when(k == KIND_BOOL, ref.bool_of().isin(values_for(T.BooleanType())))
                .otherwise(ref.str_of().isin(values_for(T.StringType())))
            )
            return _check(ref, out, ~ok, msg)
        if dt is not None and _is_numeric(dt):
            view = number_of(ref.col, dt)
        elif isinstance(dt, T.BooleanType):
            view = bool_of(ref.col, dt)
        else:
            view = string_of(ref.col, dt)
        return _check(ref, out, ~view.isin(values_for(dt)), msg)

    def any_kernel(aref: ValueRef) -> Column | None:
        # remove every allowed value; a non-NULL leftover fails
        dt = _elem_type(aref)
        if not _is_scalar(dt):
            return None
        arr = aref.col.cast("array<double>") if _is_numeric(dt) else aref.col
        for x in dict.fromkeys(values_for(dt)):
            arr = F.array_remove(arr, x)
        return _some_non_null(arr)

    return EmitRule(emit, any_kernel)


@register_keyword("enum")
def kw_enum(operand, path, siblings, ctx) -> Rule:
    return _enum_rule(operand, path, "enum")


@register_keyword("enums")
def kw_enums(operand, path, siblings, ctx) -> Rule:
    return _enum_rule(operand, path, "enums")


@register_keyword("const")
def kw_const(operand, path, siblings, ctx) -> Rule:
    # const compares stringified (validator_base.go:762-782)
    sv = coerce_literal_for(T.StringType(), operand)

    def emit(ref: ValueRef, out) -> Column:
        ok = ref.str_of() == F.lit(sv)
        return _check(ref, out, ~ok, f"value is invalid , expected: {sv}")

    return EmitRule(emit)


# ------------------------------------------------------------ required

@register_keyword("required")
def kw_required(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, list):
        raise SchemaError(f"value of 'required' must be array, path:{path}")
    keys = []
    for k in operand:
        if not isinstance(k, str):
            raise SchemaError(f"value of 'required item' must be string: {k}")
        keys.append(k)
    # build-time cross-check against sibling properties when
    # additionalProperties is disabled (validator_base.go:565-584)
    props = siblings.get("properties") or siblings.get("props")
    if props is not None and siblings.get("additionalProperties") is False:
        for k in keys:
            if k not in props:
                raise SchemaError(
                    f"required '{k}' is not defined in properties when "
                    f"additionalProperties is not enabled! path:{path}"
                )

    def emit(ref: ValueRef, out) -> Column:
        parts = []
        for k in keys:
            child = ref.child(k)
            # exact m[key] presence on variants (validator_base.go:
            # 500-512): a present key holding JSON null is NOT missing
            # (missing() == null() on every other type)
            parts.append(out.term(child.missing(), child.path, "field is required"))
        v = out.join(parts)
        if isinstance(ref.dtype, T.VariantType):
            # non-object value: reference skips entirely
            # (value.(map[string]interface{}) guard)
            v = F.when(ref.v_object().isNull(), out.none()).otherwise(v)
        return v

    return EmitRule(emit)


# ------------------------------------------------------------- pattern

@register_keyword("pattern")
def kw_pattern(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, str):
        raise SchemaError(f"value of 'pattern' must be string, path:{path}")
    import re as _re

    try:
        _re.compile(operand)  # compile-once check (validator_strings.go:27-37)
    except _re.error as e:
        raise SchemaError(f"invalid pattern at {path}: {e}") from e

    def emit(ref: ValueRef, out) -> Column:
        dt = ref.dtype
        if isinstance(dt, T.VariantType):
            # strict view: non-strings are NULL -> check skips, exactly
            # the value.(string) guard (validator_strings.go:14-18)
            s = ref.v_string()
        elif dt is not None and not isinstance(dt, T.StringType):
            return out.none()
        else:
            s = ref.col.cast("string")
        info = F.concat(s, F.lit(" ,value does not match pattern: "), F.lit(operand))
        return _check(ref, out, ~s.rlike(operand), info)

    return EmitRule(emit)


# --------------------------------------------------------------- items

@register_keyword("items")
def kw_items(operand, path, siblings, ctx) -> Rule:
    sub = ctx.compile_node(operand, path + "[*]")

    def emit(ref: ValueRef, out) -> Column:
        if isinstance(ref.dtype, T.VariantType):
            aref = _variant_array_ref(ref)
            per_elem = out.of_each(sub, aref)
            # non-array at runtime: view is NULL -> transform NULL -> skip
            return _skip_null(ref, out, F.coalesce(per_elem, out.none()))
        if not isinstance(ref.dtype, T.ArrayType):
            return out.none()
        return _skip_null(ref, out, out.of_each(sub, ref))

    return EmitRule(emit)


def _variant_array_ref(ref: ValueRef) -> ValueRef:
    """array<variant> view of a variant ref (NULL when not an array).
    The copy keeps the parent's hoist registry under a view-scoped key
    so element descents stay correctly namespaced."""
    from dataclasses import replace as _replace

    return _replace(
        ref,
        col=ref.v_array(),
        dtype=T.ArrayType(T.VariantType()),
        hkey=(ref.hkey + ("arrv",)) if ref.hkey is not None else None,
        hlevel=ref.hlevel + 1,
    )


_UNCOMPARABLE = " items should be comparable type,like [ string boolean number ]"


@register_keyword("uniqueItems")
def kw_unique_items(operand, path, siblings, ctx) -> Rule | None:
    if not isinstance(operand, bool):
        raise SchemaError(f"{path} uniqueItems value should be boolean")
    if not operand:
        return None

    def emit(ref: ValueRef, out) -> Column:
        dt = ref.dtype
        if isinstance(dt, T.VariantType):
            # per-element runtime comparability (Go map-key interface
            # identity: same dynamic type AND value,
            # validator_core.go:787-799).  Dup detection tags each
            # element kind|canonical-string so 1 != "1" != true.
            from ..core.variant import KIND_ARRAY, KIND_OBJECT, variant_kind
            from ..core.variant import variant_string_of as _vso

            arr = _variant_array_ref(ref).col
            kinds = F.transform(arr, lambda x: variant_kind(x))
            has_container = F.exists(
                kinds, lambda k: k.isin(KIND_OBJECT, KIND_ARRAY)
            )
            tags = F.transform(
                arr, lambda x: F.concat_ws("|", variant_kind(x), _vso(x))
            )
            dup = F.size(F.array_distinct(tags)) != F.size(tags)
            v = (
                F.when(arr.isNull(), out.none())  # non-array: skip
                .when(has_container, out.term(F.lit(True), ref.path, _UNCOMPARABLE))
                .otherwise(out.term(dup, ref.path, " items should be unique"))
            )
            return _skip_null(ref, out, v)
        if not isinstance(dt, T.ArrayType):
            return out.none()
        if not _is_scalar(dt.elementType):
            return _check(ref, out, F.lit(True), _UNCOMPARABLE)
        fail = F.size(F.array_distinct(ref.col)) != F.size(ref.col)
        return _check(ref, out, fail, " items should be unique")

    return EmitRule(emit)


@register_keyword("maxItems")
def kw_max_items(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "maxItems", path)

    def emit(ref: ValueRef, out) -> Column:
        if isinstance(ref.dtype, T.VariantType):
            from ..core.variant import nn_size

            sz = nn_size(_variant_array_ref(ref).col)  # NULL unless array
            return _check(ref, out, sz > n, f" max length is {n}")
        if not isinstance(ref.dtype, T.ArrayType):
            return out.none()
        return _check(ref, out, F.size(ref.col) > n, f" max length is {n}")

    return EmitRule(emit)


@register_keyword("minItems")
def kw_min_items(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minItems", path)

    def emit(ref: ValueRef, out) -> Column:
        if isinstance(ref.dtype, T.VariantType):
            from ..core.variant import nn_size

            sz = nn_size(_variant_array_ref(ref).col)
            return _check(ref, out, sz < n, f" min length is {n}")
        if not isinstance(ref.dtype, T.ArrayType):
            return out.none()
        return _check(ref, out, F.size(ref.col) < n, f" min length is {n}")

    return EmitRule(emit)


# --------------------------------------------- object key-count bounds

@register_keyword("minProperties")
def kw_min_properties(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minProperties", path)

    def emit(ref: ValueRef, out) -> Column:
        cnt = _prop_count(ref)
        if cnt is None:
            return out.none()
        return _check(ref, out, cnt < n, f"min properties is : {n}")

    return EmitRule(emit)


@register_keyword("maxProperties")
def kw_max_properties(operand, path, siblings, ctx) -> Rule:
    """Reference bug (validator_properties.go:86-89): NewMaxProperties
    returns a MinProperties, so `maxProperties` acts as a minimum.
    We implement the CORRECT maximum semantics — documented divergence
    (SURVEY §7.4); set options['replicate_max_properties_bug']=True for
    bug-compatible behavior."""
    n = _int_operand(operand, "maxProperties", path)
    if ctx.options.get("replicate_max_properties_bug"):
        return kw_min_properties(operand, path, siblings, ctx)

    def emit(ref: ValueRef, out) -> Column:
        cnt = _prop_count(ref)
        if cnt is None:
            return out.none()
        return _check(ref, out, cnt > n, f"max properties is :{n}")

    return EmitRule(emit)


def _prop_count(ref: ValueRef) -> Column | None:
    dt = ref.dtype
    if isinstance(dt, T.VariantType):
        # objects AND arrays count (validator_properties.go:29-35);
        # NULL on scalars -> check skips
        from ..core.variant import nn_size

        return F.coalesce(
            nn_size(ref.v_object()), nn_size(ref.v_array())
        )
    if isinstance(dt, T.MapType):
        return F.size(ref.col)
    if isinstance(dt, T.StructType):
        nn = [F.when(ref.col.getField(f.name).isNotNull(), 1).otherwise(0) for f in dt.fields]
        out = nn[0]
        for c in nn[1:]:
            out = out + c
        return out
    if isinstance(dt, T.ArrayType):
        # the reference also counts arrays (validator_properties.go:29-35)
        return F.size(ref.col)
    if ref.is_root and isinstance(dt, T.StructType):
        return F.lit(len(dt.fields))
    return None


# -------------------------------------------------------- base64 bounds

@register_keyword("maxB64DLen")
def kw_max_b64(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "maxB64DLen", path)

    def emit(ref: ValueRef, out) -> Column:
        s = _string_view(ref)
        if s is None:
            return out.none()
        # Go base64.StdEncoding.DecodedLen = len/4*3 (validator_base.go:692-760)
        dlen = F.floor(F.octet_length(s) / 4) * 3
        return _check(ref, out, dlen > n, f"length is invalid, max length is  {n}")

    return EmitRule(emit)


@register_keyword("minB64DLen")
def kw_min_b64(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minB64DLen", path)

    def emit(ref: ValueRef, out) -> Column:
        s = _string_view(ref)
        if s is None:
            return out.none()
        dlen = F.floor(F.octet_length(s) / 4) * 3
        return _check(ref, out, dlen < n, f"length is invalid ,min length is  {n}")

    return EmitRule(emit)


def _string_view(ref: ValueRef) -> Column | None:
    """String-kind view for string-only keywords: the column itself
    for static strings, the strict runtime view for variants (NULL on
    non-strings -> check skips), None for statically non-string."""
    if isinstance(ref.dtype, T.VariantType):
        return ref.v_string()
    if ref.dtype is not None and not isinstance(ref.dtype, T.StringType):
        return None
    return ref.col.cast("string")


# --------------------------------------------------------------- format

@register_keyword("format")
def kw_format(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, str):
        raise SchemaError(f"value of 'format' must be string, path:{path}")
    check = compile_format(operand)

    def emit(ref: ValueRef, out) -> Column:
        if isinstance(ref.dtype, T.VariantType):
            s = ref.v_string()  # non-strings skip at runtime
        elif ref.dtype is not None and not isinstance(
            ref.dtype, (T.StringType, T.TimestampType, T.DateType)
        ):
            return out.none()
        else:
            s = ref.col.cast("string")
        return _check(ref, out, ~check(s), f"value does not match format '{operand}'")

    return EmitRule(emit)


# --------------------------------------------------------- dependencies

@register_keyword("dependencies")
def kw_dependencies(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"value of 'dependencies' must be object, path:{path}")
    deps = {}
    for k, v in operand.items():
        if not isinstance(v, list):
            raise SchemaError(f"dependencies values must be arrays, path:{path}")
        deps[k] = [str(x) for x in v]

    def emit(ref: ValueRef, out) -> Column:
        parts = []
        for k, vs in deps.items():
            kc = ref.child(k)
            for dep in vs:
                dc = ref.child(dep)
                # m[key] PRESENCE on both sides (validator_logic.go:
                # 198-218): a key holding JSON null counts as present
                parts.append(
                    out.term(~kc.missing() & dc.missing(), dc.path, "is required")
                )
        v = out.join(parts)
        if isinstance(ref.dtype, T.VariantType):
            v = F.when(ref.v_object().isNull(), out.none()).otherwise(v)
        return v

    return EmitRule(emit)


# ------------------------------------------------- children (sub-node)

@register_keyword("children")
def kw_children(operand, path, siblings, ctx) -> Rule:
    """Apply sub-validator to named children only when present
    (validator_core.go:732-762)."""
    if not isinstance(operand, dict):
        raise SchemaError(f"value of 'children' must be object, path:{path}")
    subs = {k: ctx.compile_node(v, f"{path}.{k}") for k, v in operand.items()}

    def emit(ref: ValueRef, out) -> Column:
        parts = []
        for k, sub in subs.items():
            child = ref.child(k)
            if not child.exists:
                continue
            parts.append(
                F.when(child.null(), out.none()).otherwise(
                    out.of(sub, child)
                )
            )
        return out.join(parts)

    return EmitRule(emit)


# ------------------------------------- single-value string comparisons

def _compare_single(keyword: str, info: str, build_ok):
    @register_keyword(keyword)
    def kw(operand, path, siblings, ctx, _info=info, _build=build_ok) -> Rule:
        if not isinstance(operand, str):
            raise SchemaError(f"{path} is not string")

        def emit(ref: ValueRef, out) -> Column:
            s = _string_view(ref)
            if s is None:
                return out.none()
            return _check(ref, out, ~_build(s, operand), _info + operand)

        return EmitRule(emit)

    return kw


_compare_single("startWith", " should start with ", lambda c, v: c.startswith(v))
_compare_single("endWith", " should end with ", lambda c, v: c.endswith(v))
_compare_single("contains", " should contains ", lambda c, v: c.contains(v))


# --------------------------------- map-form comparisons (jsonpath keys)

def _compare_map(keyword: str, info: str, build_ok, numeric_rhs=False):
    """NewCompare forms (compare.go:69-111): operand is a map of
    jsonpath -> operand; missing values compare as Go zero values."""

    @register_keyword(keyword)
    def kw(operand, path, siblings, ctx, _info=info, _build=build_ok) -> Rule:
        if not isinstance(operand, dict):
            raise SchemaError(f"{path} is not a map")
        compiled = [(jp, parse_value(v), v) for jp, v in operand.items()]
        silent = ctx.in_if

        def emit(ref: ValueRef, out) -> Column:
            parts = []
            for jp, val, raw in compiled:
                target = resolve(ref, jp)
                bound = val.bind(ref)
                ok = _build(target, bound)
                if silent:
                    parts.append(out.term(~ok, "", ""))
                else:
                    parts.append(
                        out.term(
                            ~ok,
                            f"{ref.path}.{jp}" if not ref.is_root else f"$.{jp}",
                            _info + _static_str(raw),
                        )
                    )
            return out.join(parts)

        return EmitRule(emit)

    return kw


def _static_str(raw) -> str:
    from ..core.coerce import coerce_literal_for as _c

    return str(_c(T.StringType(), raw))


def _zs(target: ValueRef) -> Column:
    # Go zero-value string for missing (compare.go:23-27)
    return F.coalesce(target.str_of(), F.lit(""))


def _zn(target: ValueRef) -> Column:
    return F.coalesce(target.num_of(), F.lit(0.0))


_compare_map("startWiths", "should start with ", lambda t, b: _zs(t).startswith(b.str_of()))
# sic: reference reuses the startWith message for endWiths
# (validator_core.go:78-80)
_compare_map("endWiths", "should start with ", lambda t, b: _zs(t).endswith(b.str_of()))
_compare_map("containss", "should contains ", lambda t, b: _zs(t).contains(b.str_of()))
_compare_map("maxLengths", "length should less then", lambda t, b: F.octet_length(_zs(t)) <= b.num_of())
_compare_map("minLengths", "length should larger then", lambda t, b: F.octet_length(_zs(t)) >= b.num_of())
_compare_map("gt", "should greater than ", lambda t, b: _zn(t) > b.num_of())
_compare_map("lt", "should less than", lambda t, b: _zn(t) < b.num_of())
_compare_map("gte", "should greater or equal than ", lambda t, b: _zn(t) >= b.num_of())
_compare_map("lte", "should less or equal  than ", lambda t, b: _zn(t) <= b.num_of())


@register_keyword("patterns")
def kw_patterns(operand, path, siblings, ctx) -> Rule:
    """Map form jsonpath -> regex (validator_core.go:94-101); regexes
    compiled once at build time like the reference."""
    if not isinstance(operand, dict):
        raise SchemaError(f"{path} is not a map")
    import re as _re

    compiled = []
    for jp, pat in operand.items():
        if not isinstance(pat, str):
            raise SchemaError("regexp expect string")
        _re.compile(pat)
        compiled.append((jp, pat))

    def emit(ref: ValueRef, out) -> Column:
        parts = []
        for jp, pat in compiled:
            target = resolve(ref, jp)
            ok = _zs(target).rlike(pat)
            parts.append(
                out.term(~ok, f"$.{jp}", "should match regular expression" + pat)
            )
        return out.join(parts)

    return EmitRule(emit)


@register_keyword("neq")
def kw_neq(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"{path} is not a map")
    compiled = [(jp, parse_value(v), v) for jp, v in operand.items()]

    def emit(ref: ValueRef, out) -> Column:
        from ..core.refs import equal_refs

        parts = []
        for jp, val, raw in compiled:
            target = resolve(ref, jp)
            bound = val.bind(ref)
            eq = equal_refs(target, bound)
            parts.append(
                out.term(
                    F.coalesce(eq, F.lit(False)),
                    f"$.{jp}",
                    "should not equal with " + _static_str(raw),
                )
            )
        return out.join(parts)

    return EmitRule(emit)


# ------------------------------------------------------------ in/notin

def _in_rule(operand, path, ctx, negate: bool) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"'in'/'notin' operand must be a map, path:{path}")
    compiled = []
    for jp, lst in operand.items():
        if not isinstance(lst, list):
            raise SchemaError("'in' or 'notin' opt right value expect slice")
        compiled.append((jp, [parse_value(v) for v in lst], lst))

    def emit(ref: ValueRef, out) -> Column:
        from ..core.refs import equal_refs

        parts = []
        for jp, vals, raw in compiled:
            target = resolve(ref, jp)
            ok = F.lit(False)
            for v in vals:
                b = v.bind(ref)
                ok = ok | F.coalesce(equal_refs(target, b), F.lit(False))
            if negate:
                # notin wraps in a Not -> "is not valid" (validator_logic.go:151)
                parts.append(out.term(ok, f"$.{jp}", "is not valid"))
            else:
                parts.append(out.term(~ok, f"$.{jp}", "should be one of  " + go_v(raw)))
        return out.join(parts)

    return EmitRule(emit)


@register_keyword("in")
def kw_in(operand, path, siblings, ctx) -> Rule:
    return _in_rule(operand, path, ctx, negate=False)


@register_keyword("notin")
def kw_notin(operand, path, siblings, ctx) -> Rule:
    return _in_rule(operand, path, ctx, negate=True)


# ---------------------------------------------------------------- ipIn

@register_keyword("ipIn")
def kw_ip_in(operand, path, siblings, ctx) -> Rule:
    """IPv4-in-CIDR-set (validator_core.go:168-196): CIDRs are parsed
    once on the driver into numeric [lo, hi] ranges; the runtime check
    is pure integer arithmetic on the dotted-quad."""
    if not isinstance(operand, dict):
        raise SchemaError("ipIn operand should be map of jsonpath -> cidr list")
    import ipaddress

    compiled = []
    for jp, cidrs in operand.items():
        if not isinstance(cidrs, list):
            raise SchemaError("ipIn should be slice type")
        ranges = []
        for c in cidrs:
            s = str(c)
            if "/" not in s:
                s += "/32"
            net = ipaddress.ip_network(s, strict=False)
            ranges.append((int(net.network_address), int(net.broadcast_address)))
        compiled.append((jp, ranges, cidrs))

    def ip_to_long(s: Column) -> Column:
        parts = F.split(s, r"\.")
        valid = (F.size(parts) == 4) & s.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
        octets = [F.try_element_at(parts, F.lit(i + 1)).try_cast("long") for i in range(4)]
        in_range = F.lit(True)
        for o in octets:
            in_range = in_range & o.isNotNull() & (o >= 0) & (o <= 255)
        num = octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
        return F.when(valid & in_range, num)

    def emit(ref: ValueRef, out) -> Column:
        parts = []
        for jp, ranges, raw in compiled:
            target = resolve(ref, jp)
            num = ip_to_long(target.str_of())
            ok = F.lit(False)
            for lo, hi in ranges:
                ok = ok | ((num >= lo) & (num <= hi))
            ok = F.coalesce(ok, F.lit(False))  # unparseable ip fails
            parts.append(out.term(~ok, f"$.{jp}", " ip should be within " + go_v(raw)))
        return out.join(parts)

    return EmitRule(emit)
