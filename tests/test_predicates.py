"""Predicate-compiler contract tests — reference semantics of
src/dataio/validators.py:228-332 (NULL-fail, casting, like, geo pairing,
hard errors), ported from the reference's test spec
(tests/test_run_impl.py:272-314)."""

import pytest

from hybrid_vector_search_spark.errors import FilterSpecError, ValidationError
from hybrid_vector_search_spark.functions.predicates import (
    compile_filters,
    parse_filters,
    validate_filters_schema,
)


def allowed_ids(df, filters):
    pred = compile_filters(df.schema, filters)
    return sorted(r.id for r in df.filter(pred).select("id").collect())


# ---------------------------------------------------------------- parsing
def test_parse_filters_malformed_json_hard_error():
    with pytest.raises(ValidationError):
        parse_filters("{bad-json:")


def test_parse_filters_empty_variants():
    assert parse_filters(None) == {}
    assert parse_filters("") == {}
    assert parse_filters({}) == {}
    assert parse_filters('{"state": {"eq": "FL"}}') == {"state": {"eq": "FL"}}


def test_parse_filters_non_object():
    with pytest.raises(ValidationError):
        parse_filters("[1, 2]")


# ------------------------------------------------------------ basic ops
def test_eq_state_fl(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"state": {"eq": "FL"}}) == [0, 1, 4]


def test_empty_filters_all_rows(tiny_corpus):
    assert allowed_ids(tiny_corpus, {}) == [0, 1, 2, 3, 4]
    assert allowed_ids(tiny_corpus, None) == [0, 1, 2, 3, 4]


def test_ne_null_fails(tiny_corpus):
    # city: row 2 is NULL → fails even `ne` (non-SQL semantics)
    assert allowed_ids(tiny_corpus, {"city": {"ne": "Miami"}}) == [1, 3, 4]


def test_between_inclusive(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"stars": {"between": [2.5, 4.5]}}) == [0, 1, 2]


def test_in_list(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"price": {"in": [1, 4]}}) == [0, 3, 4]


def test_in_null_fails(tiny_corpus):
    # price NULL on row 2 never matches
    assert allowed_ids(tiny_corpus, {"price": {"in": [1, 2, 4, None]}}) == [0, 1, 3, 4]


def test_gt_ge_lt_le(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"review_count": {"gt": 35}}) == [1, 3]
    assert allowed_ids(tiny_corpus, {"review_count": {"ge": 35}}) == [1, 2, 3]
    assert allowed_ids(tiny_corpus, {"review_count": {"lt": 10}}) == [4]
    assert allowed_ids(tiny_corpus, {"review_count": {"le": 10}}) == [0, 4]


def test_conjunction(tiny_corpus):
    assert allowed_ids(
        tiny_corpus, {"state": {"eq": "FL"}, "stars": {"ge": 3.0}}
    ) == [0, 1]


# ---------------------------------------------------------------- casting
def test_numeric_string_literal_cast(tiny_corpus):
    # "35" cast to the int column's type
    assert allowed_ids(tiny_corpus, {"review_count": {"ge": "35"}}) == [1, 2, 3]


def test_float_to_int_truncation(tiny_corpus):
    # reference uses Python int() → truncation: 35.9 → 35
    assert allowed_ids(tiny_corpus, {"review_count": {"ge": 35.9}}) == [1, 2, 3]


def test_cast_failure_matches_no_rows(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"review_count": {"ge": "abc"}}) == []


def test_in_is_one_sql_node_with_isin_answers(spark, monkeypatch):
    """An ``in`` conjunct is one parsed ``In`` expression (no per-value
    ``Column.isin`` literal), and it keeps the answers of the ``isin``
    form on NULLs, mixed and uncastable values, quotes and backslashes,
    signed zero and extreme doubles; values with no SQL literal (NaN,
    ``${``) keep ``isin``."""
    from pyspark.sql import functions as F

    from hybrid_vector_search_spark.functions.predicates import _cast_iterable

    df = spark.createDataFrame(
        [
            (0, 1, 10, 1.5, 2.5, "a'b", True),
            (1, 2, 3_000_000_000, -0.0, 1e-300, "c\\d", False),
            (2, None, None, None, None, None, None),
            (3, 3, 7, 1.7976931348623157e308, float("nan"), "${x}", True),
            (4, 7, -5, 5e-324, 0.5, "zh", False),
        ],
        "id long, i int, l long, d double, f float, s string, b boolean",
    )
    cases = [
        ("i", [1, "2", "x", 3.7]),  # mixed: ints, a numeric string, junk
        ("i", ["x", "y"]),  # nothing castable: lit(False)
        ("l", [3_000_000_000, -5]),
        ("d", [0.0, 1.7976931348623157e308, "5e-324"]),
        ("d", [float("nan"), 1.5]),
        ("f", [2.5, 0.5]),
        ("s", ["a'b", "c\\d", "zh"]),
        ("s", ["${x}", "zh"]),
        ("b", [True]),
        ("b", ["false", "t"]),
    ]
    schema = {f.name: f.dataType for f in df.schema.fields}
    for col, vals in cases:
        ok, cast = _cast_iterable(vals, schema[col])
        want = (
            F.col(col).isin(cast) & F.col(col).isNotNull()
            if ok else F.lit(False)
        )
        expect = sorted(r.id for r in df.filter(want).select("id").collect())
        assert allowed_ids(df, {col: {"in": vals}}) == expect, (col, vals)

    Column = type(F.col("x"))  # the concrete class defines isin
    isin = Column.isin
    calls = []
    monkeypatch.setattr(
        Column, "isin", lambda self, *a: calls.append(a) or isin(self, *a)
    )

    def nodes(node):  # the Column's expression nodes, as py4j built them
        kids = node.children()
        return 1 + sum(nodes(kids.apply(i)) for i in range(kids.size()))

    few = compile_filters(df.schema, {"l": {"in": [1, 3_000_000_000]}})
    many = compile_filters(df.schema, {"l": {"in": list(range(50))}})
    assert not calls
    assert nodes(few._jc.node()) == nodes(many._jc.node())
    assert "SqlExpression(`l` IN (0, 1, 2," in many._jc.node().toString()
    compile_filters(df.schema, {"s": {"in": ["${x}"]}})
    assert len(calls) == 1


def test_in_uncastable_elements_dropped(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"review_count": {"in": ["abc", 10, "3"]}}) == [0, 4]


def test_in_all_uncastable_matches_nothing(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"review_count": {"in": ["abc", "def"]}}) == []


def test_bool_casting(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"is_open": {"eq": "true"}}) == [0, 2, 4]
    assert allowed_ids(tiny_corpus, {"is_open": {"eq": 1}}) == [0, 2, 4]
    assert allowed_ids(tiny_corpus, {"is_open": {"eq": "F"}}) == [1]
    # row 3 is NULL → never matches; uncastable bool literal → no rows
    assert allowed_ids(tiny_corpus, {"is_open": {"eq": "maybe"}}) == []


# ------------------------------------------------------------------- like
def test_like_case_insensitive_substring(tiny_corpus):
    assert allowed_ids(tiny_corpus, {"categories": {"like": "COFFEE"}}) == [0, 2]
    assert allowed_ids(tiny_corpus, {"city": {"like": "mia"}}) == [0]


def test_like_null_fails(tiny_corpus):
    # categories NULL on row 3
    assert allowed_ids(tiny_corpus, {"categories": {"like": "a"}}) == [0, 1, 4]


# -------------------------------------------------------------------- geo
def test_geo_box_top_level(tiny_corpus):
    got = allowed_ids(
        tiny_corpus,
        {"lat_between": [27.0, 29.0], "lon_between": [-83.0, -81.0]},
    )
    assert got == [1, 4]


def test_geo_box_column_attached(tiny_corpus):
    got = allowed_ids(
        tiny_corpus,
        {
            "latitude": {"lat_between": [27.0, 29.0]},
            "longitude": {"lon_between": [-83.0, -81.0]},
        },
    )
    assert got == [1, 4]


def test_geo_null_fails(tiny_corpus):
    # row 3 has NULL lat/lon — wide-open box still excludes it
    got = allowed_ids(
        tiny_corpus, {"lat_between": [-90, 90], "lon_between": [-180, 180]}
    )
    assert got == [0, 1, 2, 4]


def test_geo_requires_both(tiny_corpus):
    with pytest.raises(FilterSpecError):
        compile_filters(tiny_corpus.schema, {"lat_between": [27.0, 29.0]})


def test_geo_attached_to_wrong_column(tiny_corpus):
    with pytest.raises(FilterSpecError):
        compile_filters(tiny_corpus.schema, {"stars": {"lat_between": [1, 2]}})


# ----------------------------------------------------------- hard errors
def test_unknown_column_hard_error(tiny_corpus):
    with pytest.raises(FilterSpecError):
        compile_filters(tiny_corpus.schema, {"nope": {"eq": 1}})


def test_unknown_op_hard_error(tiny_corpus):
    with pytest.raises(FilterSpecError):
        compile_filters(tiny_corpus.schema, {"state": {"regex": "FL"}})


def test_between_shape_error(tiny_corpus):
    with pytest.raises(FilterSpecError):
        compile_filters(tiny_corpus.schema, {"stars": {"between": [1]}})


def test_in_shape_error(tiny_corpus):
    with pytest.raises(FilterSpecError):
        compile_filters(tiny_corpus.schema, {"state": {"in": "FL"}})


def test_validate_schema_ok(tiny_corpus):
    validate_filters_schema(
        tiny_corpus.schema, {"state": {"eq": "FL"}, "stars": {"ge": 2}}
    )


def test_pandas_mask_matches_spark(spark):
    """filters_mask_pandas ≡ compile_filters on the real corpus for every
    registry filter shape + the NULL-fail and geo cases — the one-
    semantics guarantee the serving tier rests on."""
    import numpy as np

    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
        filters_mask_pandas,
    )
    from hybrid_vector_search_spark.plans import registry as R
    from hybrid_vector_search_spark.plans.registry_hybrid_ann import (
        HYBRID_CASES,
    )

    corpus = R.load_corpus(spark, "/root/testdata/sf0.001")
    pdf = corpus.drop("embedding").toPandas()
    shapes = [c["filters"] for c in HYBRID_CASES.values()]
    shapes += [
        {},
        {"lang": {"ne": "en"}},  # NULL-fail on the left-join-null column
        {"n_chars": {"between": [10, 200]}, "label": {"in": [0, 1]}},
        {"label": {"eq": "not-an-int"}},  # cast failure → all-false
    ]
    for filters in shapes:
        want = sorted(
            r["id"]
            for r in corpus.filter(
                compile_filters(corpus.schema, filters)
            )
            .select("id")
            .collect()
        )
        mask = filters_mask_pandas(corpus.schema, filters, pdf)
        got = sorted(pdf["id"].to_numpy()[np.asarray(mask)].tolist())
        assert got == want, filters


def test_pandas_mask_geo(spark, tiny_corpus):
    """Geo boxes and comparisons on FLOAT columns agree with Spark,
    which compares a float column with a double literal in double: the
    float32 value 36.1 is below 36.1."""
    import numpy as np

    from hybrid_vector_search_spark.functions.predicates import (
        compile_filters,
        filters_mask_pandas,
    )

    pdf = tiny_corpus.drop("embedding").toPandas()
    for filters in (
        {"lat_between": [25.0, 30.0], "lon_between": [-85.0, -80.0]},
        {"lat_between": [36.1, 40.0], "lon_between": [-90.0, -80.0]},
        {"latitude": {"eq": 36.1}},
        {"latitude": {"lt": 36.1}, "stars": {"ge": 2.5}},
        {"latitude": {"between": [28.5, 36.1]}},
    ):
        want = sorted(
            r["id"]
            for r in tiny_corpus.filter(
                compile_filters(tiny_corpus.schema, filters)
            )
            .select("id")
            .collect()
        )
        mask = filters_mask_pandas(tiny_corpus.schema, filters, pdf)
        got = sorted(pdf["id"].to_numpy()[np.asarray(mask)].tolist())
        assert got == want, filters
