"""Value references: where a compiled rule reads its input from.

The reference walks a dynamic ``map[string]interface{}`` tree one
document at a time; here a "document" is one DataFrame row with a fixed
StructType.  A ``ValueRef`` carries (column-expression, static dtype,
$-rooted error path) and knows how to descend into struct fields, map
entries and array elements — the Spark-native analog of the reference's
jsonpath addressing layer (/root/reference/jsonpath/jsonpath.go,
easy_jsonpath.go:86-212).

Because Spark schemas are static, field *absence* splits into two
cases the dynamic reference merged:
  - field not in the StructType  -> statically missing (exists=False)
  - field null in this row       -> runtime missing (isNull)
`required` fails on either; most other validators skip both (the
reference's null-skip fast paths, validator_base.go:180-183, 461-463).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .variant import variant_child as _variant_child


class Hoist:
    """Common-subexpression hoisting for the variant validation path.

    Every keyword touching a variant field independently rebuilds the
    same primitives — the field's ``try_variant_get``, its container
    casts, its ``schema_of_variant`` — and most of those copies sit
    inside CASE WHEN branches, where Spark's codegen-level
    subexpression elimination does NOT deduplicate (measured: 30
    conditional uses of one get = 2-3x the hoisted cost).  The fix:
    register each distinct primitive ONCE as a named projection column
    below the violations projection.  ``CollapseProject`` keeps the
    extra Project levels because the hoisted expressions are non-cheap
    and multiply-referenced, so each primitive is evaluated exactly
    once per row; whole-stage codegen still fuses the chain into one
    stage (no materialization between levels).

    Levels order dependencies: an expression referencing a hoisted
    placeholder must live in a LATER projection than the placeholder
    (sibling columns of one Project cannot see each other)."""

    def __init__(self, prefix: str = "__jsvh_"):
        self._prefix = prefix
        self._entries: dict[tuple, tuple[str, int, Column]] = {}

    def get(self, key: tuple, level: int, build) -> Column:
        """Placeholder Column for `key`, registering `build()` at
        `level` on first request."""
        if key not in self._entries:
            name = f"{self._prefix}{len(self._entries)}"
            self._entries[key] = (name, level, build())
        return F.col(self._entries[key][0])

    def level_of(self, key: tuple) -> int:
        return self._entries[key][1]

    def names(self) -> list[str]:
        return [name for (name, _, _) in self._entries.values()]

    def apply(self, df):
        """Materialize the registered columns as a chain of projections
        (one per level, each referencing only earlier levels)."""
        if not self._entries:
            return df
        by_level: dict[int, dict[str, Column]] = {}
        for name, level, expr in self._entries.values():
            by_level.setdefault(level, {})[name] = expr
        for level in sorted(by_level):
            df = df.withColumns(by_level[level])
        return df


@dataclass
class ValueRef:
    col: Column | None  # None => the root row (whole document)
    dtype: T.DataType | None  # None => unknown (dynamic map value / missing)
    path: str = "$"  # $-rooted dotted path for error messages
    exists: bool = True  # statically present in the schema?
    is_root: bool = False
    # lambda-scope bindings (foreach's __key/__val, foreach.go:22-32):
    # consulted by child() before the static schema lookup
    bindings: dict | None = None
    # variant-path CSE (annotate_json wires these on the root; children
    # inherit; lambda-bound element refs never hoist — their columns
    # are lambda variables that cannot leave the enclosing HOF)
    hoist: Hoist | None = None
    hkey: tuple | None = None  # identity of the value this ref points at
    hlevel: int = 0  # projection level col becomes available at

    def null(self) -> Column:
        """Runtime 'value missing' predicate (never true for the root)."""
        if self.is_root and self.col is None:
            return F.lit(False)
        if not self.exists:
            return F.lit(True)
        if isinstance(self.dtype, T.VariantType):
            # a Variant encoding JSON null is runtime-missing for every
            # validator except `required`/`dependencies` (which read
            # map-key presence — the reference's m[key] lookup finds a
            # nil entry; use missing() there)
            return self.col.isNull() | F.is_variant_null(self.col)
        return self.col.isNull()

    def missing(self) -> Column:
        """Key-ABSENCE predicate (`m[key]` lookup, required/
        dependencies, validator_base.go:500-512): unlike null(), a
        present key holding JSON null is NOT missing.  Distinguishable
        only on Variant columns (try_variant_get: absent key -> SQL
        NULL, present null -> variant-null); fixed struct columns merge
        the two (documented static divergence, refs.py module doc)."""
        if self.is_root and self.col is None:
            return F.lit(False)
        if not self.exists:
            return F.lit(True)
        return self.col.isNull()

    def present(self) -> Column:
        if self.is_root:
            return F.lit(True)
        if not self.exists:
            return F.lit(False)
        return self.col.isNotNull()

    def child(self, name: str) -> "ValueRef":
        """Descend one object key (reference Properties walk,
        validator_core.go:407-487)."""
        child_path = f"{self.path}.{name}"
        if self.bindings and name in self.bindings:
            return replace(self.bindings[name], path=child_path)
        if isinstance(self.dtype, T.VariantType):
            # variant parent (incl. a variant ROOT document): binary
            # path walk; absent key -> SQL NULL, present JSON null ->
            # variant-null (required semantics preserved)
            if self.hoist is not None and self.hkey is not None:
                key = self.hkey + ("k", name)
                col = self.hoist.get(
                    key,
                    self.hlevel + 1,
                    lambda: _variant_child(self.col, name),
                )
                return ValueRef(
                    col, T.VariantType(), child_path,
                    hoist=self.hoist, hkey=key, hlevel=self.hlevel + 1,
                )
            return ValueRef(
                _variant_child(self.col, name), T.VariantType(), child_path
            )
        if self.is_root:
            dt = None
            found = False
            if isinstance(self.dtype, T.StructType):
                for f_ in self.dtype.fields:
                    if f_.name == name:
                        dt, found = f_.dataType, True
                        break
            if not found:
                return ValueRef(F.lit(None), None, child_path, exists=False)
            return ValueRef(F.col(name), dt, child_path)
        if isinstance(self.dtype, T.StructType):
            for f_ in self.dtype.fields:
                if f_.name == name:
                    return ValueRef(self.col.getField(name), f_.dataType, child_path)
            return ValueRef(F.lit(None), None, child_path, exists=False)
        if isinstance(self.dtype, T.MapType):
            return ValueRef(
                F.try_element_at(self.col, F.lit(name)), self.dtype.valueType, child_path
            )
        # scalar parent: child can't exist
        return ValueRef(F.lit(None), None, child_path, exists=False)

    def index(self, i: int) -> "ValueRef":
        child_path = f"{self.path}[{i}]"
        if isinstance(self.dtype, T.ArrayType):
            return ValueRef(
                F.try_element_at(self.col, F.lit(i + 1)), self.dtype.elementType, child_path
            )
        if isinstance(self.dtype, T.VariantType):
            if self.hoist is not None and self.hkey is not None:
                key = self.hkey + ("i", i)
                col = self.hoist.get(
                    key,
                    self.hlevel + 1,
                    lambda: F.try_variant_get(self.col, f"$[{i}]", "variant"),
                )
                return ValueRef(
                    col, T.VariantType(), child_path,
                    hoist=self.hoist, hkey=key, hlevel=self.hlevel + 1,
                )
            return ValueRef(
                F.try_variant_get(self.col, f"$[{i}]", "variant"),
                T.VariantType(),
                child_path,
            )
        return ValueRef(F.lit(None), None, child_path, exists=False)

    def element(self, lam_var: Column) -> "ValueRef":
        """The per-element ref inside a higher-order-function lambda
        (reference Items path suffix '[*]', validator_base.go:646-650).
        Never hoisted: the column is a lambda variable that cannot
        leave the enclosing higher-order function."""
        elem_dt = (
            self.dtype.elementType if isinstance(self.dtype, T.ArrayType) else None
        )
        return ValueRef(lam_var, elem_dt, f"{self.path}[*]")

    def with_path(self, path: str) -> "ValueRef":
        return replace(self, path=path)

    # ----- variant runtime views (hoisted primitives, inline fallback)
    #
    # Each keyword touching a variant value needs some of: its
    # container casts, its scalar schema, its typed scalar gets.  When
    # the ref is hoist-wired (annotate_json), each primitive becomes
    # ONE named projection column shared by every keyword; otherwise
    # (fail_predicate's single-Column contract, lambda elements) the
    # core.variant inline forms are returned unchanged.

    def _hoistable(self) -> bool:
        return (
            self.hoist is not None
            and self.hkey is not None
            and isinstance(self.dtype, T.VariantType)
        )

    def _hp(self, tag: str, extra: int, build) -> Column:
        return self.hoist.get(self.hkey + (tag,), self.hlevel + extra, build)

    def v_object(self) -> Column:
        """map<string,variant> view; NULL unless a JSON object."""
        from .variant import variant_object

        if not self._hoistable():
            return variant_object(self.col)
        return self._hp("obj", 1, lambda: variant_object(self.col))

    def v_array(self) -> Column:
        """array<variant> view; NULL unless a JSON array."""
        from .variant import variant_array

        if not self._hoistable():
            return variant_array(self.col)
        return self._hp("arr", 1, lambda: variant_array(self.col))

    def v_sch(self) -> Column:
        """schema_of_variant, guarded to scalar values (NULL for SQL
        null and containers — callers' kind branches never read it
        there, and the guard keeps the hoisted column from walking
        whole objects/arrays every row)."""
        from .variant import _scalar_schema

        if not self._hoistable():
            return _scalar_schema(self.col)
        obj, arr = self.v_object(), self.v_array()
        return self._hp(
            "sch",
            2,
            lambda: F.when(
                self.col.isNotNull() & obj.isNull() & arr.isNull(),
                F.schema_of_variant(self.col),
            ),
        )

    def v_string(self) -> Column:
        """Strict string view (NULL unless a JSON string)."""
        from .variant import variant_string

        if not self._hoistable():
            return variant_string(self.col)
        sch = self.v_sch()
        return self._hp(
            "str",
            3,
            lambda: F.when(
                sch == "STRING", F.try_variant_get(self.col, "$", "string")
            ),
        )

    def v_double(self) -> Column:
        """Strict numeric view as double (valueOfFloat,
        validator_base.go:405-425); NULL unless a JSON number."""
        from .variant import variant_double

        if not self._hoistable():
            return variant_double(self.col)
        sch = self.v_sch()
        return self._hp(
            "dbl",
            3,
            lambda: F.when(
                sch.isNotNull() & ~sch.isin("STRING", "BOOLEAN", "VOID", "BINARY"),
                F.try_variant_get(self.col, "$", "double"),
            ),
        )

    def v_bool(self) -> Column:
        """Strict boolean view (NULL unless a JSON bool)."""
        from .variant import variant_bool

        if not self._hoistable():
            return variant_bool(self.col)
        sch = self.v_sch()
        return self._hp(
            "bool",
            3,
            lambda: F.when(
                sch == "BOOLEAN", F.try_variant_get(self.col, "$", "boolean")
            ),
        )

    def v_kind(self) -> Column:
        """Runtime kind ∈ {string,number,bool,object,array,null}
        (typeOf, type.go:3-20); NULL for SQL-null."""
        from .variant import (
            KIND_ARRAY,
            KIND_BOOL,
            KIND_NULL,
            KIND_NUMBER,
            KIND_OBJECT,
            KIND_STRING,
            variant_kind,
        )

        if not self._hoistable():
            return variant_kind(self.col)
        obj, arr, sch = self.v_object(), self.v_array(), self.v_sch()
        return self._hp(
            "kind",
            3,
            lambda: (
                F.when(self.col.isNull(), F.lit(None).cast("string"))
                .when(F.is_variant_null(self.col), F.lit(KIND_NULL))
                .when(obj.isNotNull(), F.lit(KIND_OBJECT))
                .when(arr.isNotNull(), F.lit(KIND_ARRAY))
                .when(sch == "STRING", F.lit(KIND_STRING))
                .when(sch == "BOOLEAN", F.lit(KIND_BOOL))
                .otherwise(F.lit(KIND_NUMBER))
            ),
        )

    def go_label(self) -> Column:
        """reflect.TypeOf(...).String() label for type-error messages."""
        from .variant import GO_TYPE_LABELS, go_type_label

        if not self._hoistable():
            return go_type_label(self.col)
        k = self.v_kind()
        expr = None
        for kind, label in GO_TYPE_LABELS.items():
            expr = F.when(k == kind, label) if expr is None else expr.when(k == kind, label)
        return expr.otherwise(F.lit(None).cast("string"))

    def str_of(self) -> Column:
        """StringOf coercion (common.go:71-91) over this ref."""
        from .coerce import double_string, string_of
        from .variant import KIND_BOOL, KIND_NUMBER, KIND_STRING

        if not self._hoistable():
            return string_of(self.col, self.dtype)
        k, s, d, b = self.v_kind(), self.v_string(), self.v_double(), self.v_bool()
        return (
            F.when(self.col.isNull() | F.is_variant_null(self.col), F.lit(""))
            .when(k == KIND_STRING, s)
            .when(k == KIND_BOOL, F.when(b, "true").otherwise("false"))
            .when(k == KIND_NUMBER, double_string(d))
            .otherwise(F.coalesce(F.to_json(self.col), F.lit("")))
        )

    def num_of(self) -> Column:
        """NumberOf coercion (common.go:93-112) over this ref."""
        from .coerce import number_of
        from .variant import KIND_BOOL, KIND_NUMBER, KIND_STRING

        if not self._hoistable():
            return number_of(self.col, self.dtype)
        k, s, d, b = self.v_kind(), self.v_string(), self.v_double(), self.v_bool()
        return F.coalesce(
            F.when(k == KIND_NUMBER, d)
            .when(k == KIND_BOOL, F.when(b, 1.0).otherwise(0.0))
            .when(
                k == KIND_STRING,
                F.coalesce(
                    s.try_cast("double"),
                    F.when(s == "true", F.lit(1.0)).otherwise(F.lit(0.0)),
                ),
            ),
            F.lit(0.0),
        )

    def bool_of(self) -> Column:
        """BoolOf coercion (common.go:114-129) over this ref."""
        from .coerce import bool_of
        from .variant import KIND_BOOL, KIND_NUMBER, KIND_STRING

        if not self._hoistable():
            return bool_of(self.col, self.dtype)
        k, s, d, b = self.v_kind(), self.v_string(), self.v_double(), self.v_bool()
        return F.coalesce(
            F.when(k == KIND_BOOL, b)
            .when(k == KIND_NUMBER, d > 0)
            .when(k == KIND_STRING, s == "true"),
            F.lit(False),
        )


def equal_refs(lhs: ValueRef, rhs: ValueRef) -> Column:
    """Coercing Equal (common.go:142-154) over refs: identical
    semantics to core.coerce.coercing_equal, but routed through the
    refs' hoisted views when available."""
    from .coerce import _is_numeric
    from .variant import KIND_BOOL, KIND_NUMBER

    if isinstance(lhs.dtype, T.VariantType):
        k = lhs.v_kind()
        return (
            F.when(k == KIND_NUMBER, lhs.num_of() == rhs.num_of())
            .when(k == KIND_BOOL, lhs.bool_of() == rhs.bool_of())
            .otherwise(lhs.str_of() == rhs.str_of())
        )
    if lhs.dtype is not None and _is_numeric(lhs.dtype):
        return lhs.num_of() == rhs.num_of()
    if isinstance(lhs.dtype, T.BooleanType):
        return lhs.bool_of() == rhs.bool_of()
    return lhs.str_of() == rhs.str_of()


_SEG = re.compile(r"\.|\[(\d+)\]")


def split_path(path: str) -> list[str | int]:
    """Split a jsonpath-lite string ('a.b[0].c', optionally '$.'-rooted)
    into segments; ints are array indices.  Escaped dots ('\\.')
    supported as in easy_jsonpath.go:86-130."""
    if path.startswith("$") and not path.startswith("${"):
        path = path[1:]
    if path.startswith("."):
        path = path[1:]
    segs: list[str | int] = []
    buf = ""
    i = 0
    while i < len(path):
        ch = path[i]
        if ch == "\\" and i + 1 < len(path):
            buf += path[i + 1]
            i += 2
            continue
        if ch == ".":
            if buf:
                segs.append(buf)
                buf = ""
            i += 1
            continue
        if ch == "[":
            j = path.index("]", i)
            if buf:
                segs.append(buf)
                buf = ""
            segs.append(int(path[i + 1 : j]))
            i = j + 1
            continue
        buf += ch
        i += 1
    if buf:
        segs.append(buf)
    return segs


_DYN = re.compile(r"^\$\{(.+)\}$")


def resolve(root: ValueRef, path: str) -> ValueRef:
    """Resolve a jsonpath-lite string from the root document ref.

    ``${var}`` segments are INDIRECT keys (jsonpath.go:452-481): the key
    is the runtime value of another document path.  Map and Variant
    parents index natively; a FIXED-STRUCT parent (incl. the root row)
    is first re-encoded as a Variant object (``to_variant_object``) so
    the lookup — and everything below it — gets the reference's
    runtime-kind dispatch (its values are ``interface{}``); only a
    scalar parent is statically unresolvable (nil in the reference)."""
    ref = root
    for seg in split_path(path):
        if isinstance(seg, int):
            ref = ref.index(seg)
            continue
        m = _DYN.match(seg)
        if m:
            key_ref = resolve(root, m.group(1))
            key_str = (
                key_ref.str_of()
                if isinstance(key_ref.dtype, T.VariantType)
                else (
                    F.lit(None).cast("string")
                    if key_ref.col is None or not key_ref.exists
                    else key_ref.col.cast("string")
                )
            )
            base = ref
            if isinstance(base.dtype, T.StructType):
                # fixed struct (or the root row): one Variant re-encode,
                # then the ordinary variant walk below
                struct_col = (
                    F.struct(*[F.col(f_.name) for f_ in base.dtype.fields])
                    if base.col is None
                    else base.col
                )
                base = ValueRef(
                    F.to_variant_object(struct_col), T.VariantType(), base.path
                )
            if isinstance(base.dtype, T.VariantType):
                ref = ValueRef(
                    F.try_element_at(base.v_object(), key_str),
                    T.VariantType(),
                    f"{ref.path}.${{{m.group(1)}}}",
                )
            elif isinstance(base.dtype, T.MapType):
                ref = ValueRef(
                    F.try_element_at(
                        base.col, key_ref.col.cast(base.dtype.keyType)
                    ),
                    base.dtype.valueType,
                    f"{ref.path}.${{{m.group(1)}}}",
                )
            else:
                # dynamic key on a scalar parent: statically unresolvable
                ref = ValueRef(
                    F.lit(None), None, f"{ref.path}.${{{m.group(1)}}}", exists=False
                )
            continue
        ref = ref.child(seg)
    return ref
