"""The failure predicate (CompiledSchema.fail_predicate) is the FAILS
reading of the same keyword definitions that build the violations
array: on every row it must equal ``size(violations) > 0`` — for the
fixture schemas, for documents outside any keyword subset (script,
foreach, $ref, additionalProperties, items of objects), for fixed
columns and for JSON-string columns in both parse modes."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.sources.fixtures import (
    GATEWAY_SCHEMA,
    TRANSCRIPT_CORE_SCHEMA,
    TRANSCRIPT_FULL_SCHEMA,
    gateway_requests,
    transcripts,
)


def _bad_rows(plan, df, json_col=None, json_types=None) -> int:
    """Assert fail_predicate == size(violations) > 0 row by row (same
    projection, so rows pair up exactly); return the failing-row
    count."""
    if json_col is None:
        pred = plan.fail_predicate(df)
        ann = plan.annotate(df, col="__v")
    else:
        pred = plan.fail_predicate(df, json_col=json_col, json_types=json_types)
        ann = plan.annotate_json(df, json_col, col="__v", json_types=json_types)
    got = ann.select(pred.alias("p"), (F.size("__v") > 0).alias("s")).collect()
    diff = [r for r in got if r["p"] != r["s"]]
    assert not diff, f"{len(diff)} rows disagree, e.g. {diff[:3]}"
    return sum(1 for r in got if r["s"])


def _as_json(df, col="payload"):
    return df.select(F.to_json(F.struct(*df.columns)).alias(col))


def _every_path(plan, df) -> int:
    """Fixed columns, then the same rows as JSON in both modes."""
    bad = _bad_rows(plan, df)
    doc = _as_json(df)
    for mode in ("static", "variant"):
        _bad_rows(plan, doc, json_col="payload", json_types=mode)
    return bad


def test_predicate_equals_arrays_transcripts(spark):
    df = transcripts(spark, n_convs=200).cache()
    for doc in (TRANSCRIPT_CORE_SCHEMA, TRANSCRIPT_FULL_SCHEMA):
        assert _every_path(js.compile_schema(doc), df) > 0
    df.unpersist()


def test_predicate_equals_arrays_gateway(spark):
    df = gateway_requests(spark, n_rows=5_000).cache()
    assert _every_path(js.compile_schema(GATEWAY_SCHEMA), df) > 0
    df.unpersist()


def test_predicate_equals_arrays_combinators(spark):
    df = spark.createDataFrame(
        [(1, "BUILDING", 10.0), (2, "FURNITURE", 100.0), (3, "HOUSE", -5.0),
         (4, "MACHINERY", None)],
        "id int, seg string, bal double",
    )
    doc = {
        "properties": {
            "seg": {"anyOf": [{"enum": ["BUILDING"]}, {"pattern": "^M"}]},
            "bal": {"not": {"maximum": 0}},
        },
        "switch": "seg",
        "case": {"FURNITURE": {"gt": {"bal": 500}}},
        "defaults": {"oneOf": [{"required": ["bal"]}, {"lt": {"id": 2}}]},
    }
    assert _bad_rows(js.compile_schema(doc), df) == 3


@pytest.fixture()
def nested_df(spark):
    return spark.createDataFrame(
        [
            (1, "ab", [{"q": 1}, {"q": 200}], {"k": "v"}),
            (2, None, [], None),
            (3, "toolong", None, {"k": "v", "z": "w"}),
            (4, "x", [{"q": None}], {}),
        ],
        "id int, s string, items array<struct<q:int>>, m map<string,string>",
    )


# documents the former second compiler did not cover (they fell back
# to the array path): every one now gets the predicate, and it agrees
FORMER_FALLBACK_DOCS = {
    "script": {"script": ["if($.id > 1, return('big'))"]},
    "foreach": {"foreach": {"items": {"lte": {"__val.q": 100}}}},
    "foreach_index": {"foreach": {"items": {"lt": {"__key": 1}}}},
    "foreach_map": {"foreach": {"m": {"neq": {"__key": "z"}}}},
    "ref": {
        "$defs": {"short": {"maxLength": 3}},
        "properties": {"s": {"$ref": "#/$defs/short"}},
    },
    "additional_false_struct": {
        "properties": {"id": {}, "s": {}, "items": {}},
        "additionalProperties": False,
    },
    "additional_false_map": {
        "properties": {"m": {"properties": {"k": {}}, "additionalProperties": False}},
    },
    "items_of_objects": {
        "properties": {
            "items": {"items": {"required": ["q"], "properties": {"q": {"maximum": 100}}}},
        },
    },
}


def test_predicate_equals_arrays_former_fallback_docs(spark, nested_df):
    # a NULL element and an empty array next to valid values
    df = nested_df.unionByName(
        spark.createDataFrame(
            [(5, "y", [None, {"q": 3}], {"k": "v"}), (6, "z", [], {"k": "v"})],
            nested_df.schema,
        )
    )
    for name, doc in FORMER_FALLBACK_DOCS.items():
        assert _every_path(js.compile_schema(doc), df) > 0, name


def _analyzed(df, pred) -> str:
    return df.select(pred.alias("p"))._jdf.queryExecution().analyzed().toString()


def _has_lambda(df, pred) -> bool:
    return "lambdafunction" in _analyzed(df, pred)


@pytest.fixture()
def arrays_df(spark):
    nan = float("nan")
    return spark.createDataFrame(
        [
            (1, ["ball", "game"], [1, 2], [0.5, 1.0], [True], [Decimal("1.00")], {"k": "v"}),
            (2, None, None, None, None, None, None),
            (3, [], [], [], [], [], {}),
            (4, [None, "ball"], [None, 1], [None, 1.0], [None], [None], {"k": "v", "z": "w"}),
            (5, ["", "ball", "ball"], [1, 1, 3], [nan], [False, False],
             [Decimal("5.50"), Decimal("1.00")], {"z": "w"}),
            (6, ["knitting"], [0, -1], [1.5, nan, -0.0], [True, False],
             [Decimal("99.99")], {"k": None}),
            (7, [None], [None], [None], [None], [None], {}),
            (8, ["game"], [2], [0.0, 1.0], [True], [Decimal("0.50")], {"k": "v"}),
        ],
        "id int, s array<string>, n array<int>, d array<double>, b array<boolean>,"
        " dec array<decimal(10,2)>, m map<string,string>",
    )


def _items(col, **rule):
    return {"properties": {col: {"items": rule}}}


# element rules FAILS compiles without a lambda (Rule.any_kernel)
KERNEL_DOCS = {
    "type_enum_str": _items("s", type="string", enum=["ball", "game", "music"]),
    "enum_str_with_empty": _items("s", enum=["ball", ""]),
    "type_mismatch_str": _items("s", type="number"),
    "enum_int_misfit_values": _items("n", enum=[1.5, "1"]),
    "enum_double_nan": _items("d", enum=[0.5, 1, 2]),
    "bool": _items("b", type="boolean", enum=[True]),
    "bool_coerced_enum": _items("b", enum=["false", 0]),
    "decimal": _items("dec", type="number", enum=[1, 5.5, 99.99]),
}

# element rules that keep the shared exists
LAMBDA_DOCS = {
    "max_min_double": _items("d", maximum=1.5, minimum=0),
    "exclusive_bool_double": _items(
        "d", maximum=1.5, exclusiveMaximum=True, minimum=0, exclusiveMinimum=True
    ),
    "exclusive_numeric_int": _items("n", exclusiveMaximum=3, exclusiveMinimum=0),
    "decimal_bounds": _items("dec", maximum=50, minimum=1),
    "map_declared": {
        "properties": {"m": {"properties": {"k": {}}, "additionalProperties": False}},
    },
    "map_none_declared": {
        "properties": {"m": {"properties": {}, "additionalProperties": False}},
    },
}


def test_predicate_element_rules_equal_arrays(spark, arrays_df):
    """Every element rule agrees with the violations array row by row —
    NULL/empty arrays, NULL, "" and duplicate elements, enum values the
    element type cannot hold, NaN, bool and decimal elements — and the
    kernels really leave the predicate lambda-free."""
    df = arrays_df.cache()
    for name, doc in {**KERNEL_DOCS, **LAMBDA_DOCS}.items():
        plan = js.compile_schema(doc)
        assert _has_lambda(df, plan.fail_predicate(df)) == (name in LAMBDA_DOCS), name
        assert 0 < _every_path(plan, df) < df.count(), name
    df.unpersist()


def test_predicate_mixed_element_rules_share_one_lambda(spark, arrays_df):
    """Rules without a kernel (multipleOf, bounds, integer on doubles)
    keep ONE exists next to the kernels, and the result still agrees —
    NaN elements included."""
    df = arrays_df
    for doc in (
        _items("n", enum=[0, 1, 2, 3], minimum=0, multipleOf=2, maximum=2),
        _items("d", type="integer", enum=[0, 0.5, 1]),
    ):
        plan = js.compile_schema(doc)
        assert _analyzed(df, plan.fail_predicate(df)).count("exists(") == 1, doc
        assert _bad_rows(plan, df) > 0, doc


def _infos(plan, df, json_col=None, json_types=None) -> str:
    """Every violation message of ``df``, joined (after _bad_rows has
    checked the predicate against them)."""
    _bad_rows(plan, df, json_col=json_col, json_types=json_types)
    if json_col is None:
        ann = plan.annotate(df, col="__v")
    else:
        ann = plan.annotate_json(df, json_col, col="__v", json_types=json_types)
    rows = ann.select(F.explode("__v").alias("v")).select("v.info").collect()
    return " | ".join(r["info"] for r in rows)


@pytest.mark.parametrize("rule", [{"type": "integer"}, {"multipleOf": 2}])
def test_messages_print_doubles_no_long_holds(spark, rule):
    """A message prints a double that no long holds (NaN, ±Infinity,
    |x| >= 2^63) through cast(string): under ANSI mode a cast to long
    would fail the whole violations query.  Fixed columns, then JSON
    documents (NaN/Infinity are the JSON parser's non-numeric-number
    extension) in both parse modes."""
    plan = js.compile_schema({"properties": {"x": rule}})
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        list(enumerate([nan, inf, -inf, 1e20, -1e20, 2.5, 4.0, None])),
        "id int, x double",
    )
    tokens = ["NaN", "Infinity", "-Infinity", "1e20", "-1e20", "2.5", "4.0"]
    docs = spark.createDataFrame(
        [(f'{{"x": {t}}}',) for t in tokens], "payload string"
    )
    fixed = _infos(plan, df)
    for shown in ("NaN", ":Infinity", "-Infinity", ":1.0E20", "-1.0E20"):
        assert shown in fixed, (shown, fixed)
    variant = _infos(plan, docs, json_col="payload", json_types="variant")
    for shown in (":1.0E20", "-1.0E20"):
        assert shown in variant, (shown, variant)
    static = _infos(plan, docs, json_col="payload", json_types="static")
    if "multipleOf" in rule:
        for shown in ("NaN", ":Infinity", "-Infinity", ":1.0E20"):
            assert shown in static, (shown, static)


def test_variant_unique_items_tags_huge_numbers(spark):
    """uniqueItems over a variant array tags each element by its
    StringOf: a number no long holds must tag, not fail the query."""
    plan = js.compile_schema({"properties": {"a": {"uniqueItems": True}}})
    docs = spark.createDataFrame(
        [('{"a": [1e20, 1e20]}',), ('{"a": [1e20, -1e20]}',)], "payload string"
    )
    assert _bad_rows(plan, docs, json_col="payload", json_types="variant") == 1


def test_predicate_variant_array_keeps_lambda(spark, arrays_df):
    """A variant array has no static element type: its element rules
    keep the exists path, and agree with the violations array."""
    plan = js.compile_schema(_items("d", type="number", enum=[0.5, 1, 2]))
    doc = _as_json(arrays_df.select("d"))
    pred = plan.fail_predicate(doc, json_col="payload", json_types="variant")
    assert _has_lambda(doc, pred)
    assert _bad_rows(plan, doc, json_col="payload", json_types="variant") > 0


def test_schemacheck_counts_match_arrays(spark, nested_df):
    """SchemaCheck verdicts come from the predicate for any document —
    a script document included — and carry only rows/bad_rows."""
    from jsonschema_spark.operators import checks

    plan = js.compile_schema(FORMER_FALLBACK_DOCS["script"])
    v = checks.SchemaCheck(plan=plan).verdicts(nested_df).collect()[0]
    assert dict(v["metrics"]) == {"rows": "4", "bad_rows": "3"}
    assert v["pass"] is False


def test_schemacheck_uses_predicate_counts(spark):
    df = transcripts(spark, n_convs=200)
    from jsonschema_spark.operators import checks

    plan = js.compile_schema(TRANSCRIPT_CORE_SCHEMA)
    v = checks.SchemaCheck(plan=plan).verdicts(df).collect()[0]
    slow = (
        plan.annotate(df)
        .agg(F.sum((F.size("violations") > 0).cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert int(v["metrics"]["bad_rows"]) == slow


def test_predicate_full_keyword_breadth(spark):
    """format/in/notin/ipIn/B64/children/prop-counts/patterns also run
    on the predicate path, agreeing with the array path."""
    df = spark.createDataFrame(
        [
            (1, "10.0.0.5", "a@b.com", "YWJjZA==", {"x": "1"}, "ball"),
            (2, "8.8.8.8", "nope", "YWJjZGVmZ2hpamts", {"x": "1", "y": "2", "z": "3"}, "golf"),
            (3, None, None, None, None, None),
        ],
        "id int, ip string, mail string, blob string, m map<string,string>, hobby string",
    )
    doc = {
        "properties": {
            "mail": {"format": "email"},
            "blob": {"maxB64DLen": 6},
            "m": {"maxProperties": 2},
        },
        "ipIn": {"ip": ["10.0.0.0/24"]},
        "in": {"hobby": ["ball", "game"]},
        "notin": {"hobby": ["golf"]},
        "patterns": {"ip": "^[0-9.]*$"},
        "children": {"mail": {"minLength": 3}},
    }
    assert _bad_rows(js.compile_schema(doc), df) == 2


def test_predicate_eq_missing_target_matches_array_path(spark):
    """A statically-missing eq/neq target must coerce the same way on
    both paths (StringOf(nil) == "") — eq:{missing:""} passes, and
    eq:{missing:"x"} fails, identically (ADVICE r1: _p_eq emitted an
    unconditional fail for missing targets)."""
    df = spark.createDataFrame([(1,), (2,)], "id int")
    for doc, expect_bad in (
        ({"eq": {"missing_field": ""}}, 0),
        ({"eq": {"missing_field": "x"}}, 2),
        ({"neq": {"missing_field": ""}}, 2),
        ({"neq": {"missing_field": "x"}}, 0),
    ):
        assert _bad_rows(js.compile_schema(doc), df) == expect_bad, doc
