"""Filter-DSL predicate compiler: JSON filter dict → Spark ``Column``.

The filter spec is a JSON object ``{column: {op: value, ...}, ...}`` with all
predicates AND-ed. Semantics replicate the reference engine exactly
(reference: src/dataio/validators.py:228-332):

* operator whitelist — unknown column or op is a hard ``FilterSpecError``
  (validators.py:138-145);
* NULL-fail — a row with NULL in any filtered column fails the predicate,
  including ``ne`` (validators.py:299-300, non-SQL three-valued logic);
* literal casting — filter values are cast to the column's type before
  comparison; a failed cast makes the predicate match no rows
  (validators.py:170-199); for ``in`` lists, uncastable elements are
  dropped and an empty surviving list matches nothing
  (validators.py:201-211);
* ``like`` — case-insensitive substring (not SQL LIKE), array cells
  pipe-joined first (validators.py:213-225);
* geo — ``lat_between``/``lon_between`` accepted top-level or
  column-attached; both must be present or hard error; bounds inclusive;
  NULL fails (validators.py:128-167, 243-248, 305-329).

This module is pure plan construction — no Spark action is triggered; the
returned ``Column`` participates fully in Catalyst predicate pushdown and
parquet row-group pruning, which is what makes filter-then-score the
scalable plan at 100 TB.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hybrid_vector_search_spark.errors import FilterSpecError, ValidationError

SUPPORTED_OPS = {
    "eq",
    "ne",
    "in",
    "between",
    "ge",
    "le",
    "gt",
    "lt",
    "like",
    "lat_between",
    "lon_between",
}

GEO_COLS = ("latitude", "longitude")

_COMPARE_OPS = {"eq", "ne", "ge", "le", "gt", "lt"}


# ---------------------------------------------------------------- parsing
def parse_filters(raw: Any) -> dict[str, Any]:
    """Parse a JSON string / dict filter spec; malformed JSON is a hard error
    (reference: validators.py:18-30)."""
    if raw is None or raw == {} or raw == "":
        return {}
    if isinstance(raw, str):
        try:
            raw = json.loads(raw)
        except json.JSONDecodeError as e:
            raise ValidationError(f"Malformed filter JSON: {e}") from e
    if not isinstance(raw, dict):
        raise ValidationError("Filters must be a JSON object (dict).")
    return raw


# ------------------------------------------------------------- validation
def validate_filters_schema(
    schema: T.StructType, filters: Mapping[str, Any] | None
) -> None:
    """Whitelist columns/ops and enforce geo pairing (reference:
    validators.py:114-167)."""
    if not filters:
        return

    known_cols = set(schema.fieldNames())
    geo_seen = {"lat_between": False, "lon_between": False}

    for field, ops in filters.items():
        if field in {"lat_between", "lon_between"}:
            if not (isinstance(ops, (list, tuple)) and len(ops) == 2):
                raise FilterSpecError(f"Geo range for {field} must be [lo, hi]")
            geo_seen[field] = True
            continue

        if field not in known_cols:
            raise FilterSpecError(f"Unknown field in filters: '{field}'")
        if not isinstance(ops, Mapping):
            raise FilterSpecError(
                f"Filter for field '{field}' must be an operator→value mapping"
            )

        for op, val in ops.items():
            if op not in SUPPORTED_OPS:
                raise FilterSpecError(f"Unknown operator for field '{field}': {op}")
            if op == "between" and not (
                isinstance(val, (list, tuple)) and len(val) == 2
            ):
                raise FilterSpecError(f"'between' expects [lo, hi] for '{field}'")
            if op == "in" and not isinstance(val, (list, tuple, set)):
                raise FilterSpecError(f"'in' expects list/tuple/set for '{field}'")
            if op in {"lat_between", "lon_between"}:
                if field not in GEO_COLS:
                    raise FilterSpecError(
                        f"{op} must be applied to its matching geo column "
                        "('latitude'/'longitude')"
                    )
                if not (isinstance(val, (list, tuple)) and len(val) == 2):
                    raise FilterSpecError(f"Geo range for {op} must be [lo, hi]")
                geo_seen[op] = True

    if any(geo_seen.values()):
        for c in GEO_COLS:
            if c not in known_cols:
                raise FilterSpecError(
                    "Geo filters require 'latitude' and 'longitude' columns"
                )
        if not (geo_seen["lat_between"] and geo_seen["lon_between"]):
            raise FilterSpecError(
                "Geo filters require both 'lat_between' and 'lon_between'"
            )


# ---------------------------------------------------------------- casting
def _cast_scalar(val: Any, dtype: T.DataType) -> tuple[bool, Any]:
    """Driver-side literal cast to the column's type; (ok, value).

    Failure → (False, None): the whole predicate becomes ``lit(False)``
    (reference: validators.py:170-199). Python ``int()`` truncation is the
    reference behavior for float→int.
    """
    try:
        if isinstance(dtype, T.BooleanType):
            if isinstance(val, bool):
                return True, bool(val)
            if isinstance(val, str):
                v = val.strip().lower()
                if v in {"true", "t", "1"}:
                    return True, True
                if v in {"false", "f", "0"}:
                    return True, False
                return False, None
            if isinstance(val, int):
                return True, bool(int(val) != 0)
            return False, None
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            if isinstance(val, bool):
                return True, int(val)
            return True, int(val)
        if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
            return True, float(val)
        if isinstance(dtype, T.StringType):
            return True, str(val)
        if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            # compare as string; Spark casts the column implicitly
            return True, str(val)
        return True, val
    except Exception:
        return False, None


def _cast_iterable(vals: Iterable[Any], dtype: T.DataType) -> tuple[bool, list[Any]]:
    out: list[Any] = []
    for v in vals:
        ok, vv = _cast_scalar(v, dtype)
        if ok:
            out.append(vv)
    return (len(out) > 0), out


# -------------------------------------------------------------- compiling
def _null_fail(mask: Column, col: Column) -> Column:
    """NULL in the filtered column fails the predicate (reference:
    validators.py:299-300). In filter context a NULL-valued predicate
    already excludes the row, so ``mask & isNotNull`` needs no
    ``coalesce(..., false)`` wrapper — and leaving it off keeps the
    conjuncts pushdown-eligible (a coalesce around the predicate blocks
    parquet PushedFilters entirely)."""
    return mask & col.isNotNull()


def _like_col(col: Column, dtype: T.DataType) -> Column:
    """``like`` input column: arrays pipe-joined, everything stringified
    (reference: validators.py:213-221)."""
    if isinstance(dtype, T.ArrayType):
        return F.array_join(col.cast(T.ArrayType(T.StringType())), "|")
    return col.cast(T.StringType())


def _sql_literal(v: Any) -> str | None:
    """The Spark SQL literal that reads back as ``F.lit(v)`` does, or
    None when there is none here: non-finite or out-of-range numbers,
    other types, and strings holding ``${``, which the SQL parser's
    variable substitution would rewrite."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v) if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        # repr is the shortest decimal that parses back to the same
        # double; the D suffix makes it a DOUBLE, not a DECIMAL
        return f"{v!r}D" if math.isfinite(v) else None
    if isinstance(v, str) and "${" not in v:
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return None


def _in_column(col_name: str, col: Column, vals: list[Any]) -> Column:
    """``col IN (vals)`` as ONE SQL expression: one parse instead of one
    py4j literal per value (``Column.isin``), the same ``In`` node with
    the same literal types. Values with no SQL literal keep ``isin``."""
    lits = [_sql_literal(v) for v in vals]
    if None in lits:
        return col.isin(vals)
    name = col_name.replace("`", "``")
    return F.expr(f"`{name}` IN ({', '.join(lits)})")


def compile_filters(
    schema: T.StructType, filters: Mapping[str, Any] | None
) -> Column:
    """Compile a filter dict to a single AND-ed Spark ``Column`` predicate.

    Returns ``lit(True)`` for an empty spec. Raises ``FilterSpecError`` for
    unknown columns/ops or ill-formed geo, mirroring the reference's
    hard-error contract.
    """
    if not filters:
        return F.lit(True)

    validate_filters_schema(schema, filters)
    dtypes = {f.name: f.dataType for f in schema.fields}

    mask = F.lit(True)
    geo_lat: tuple | None = None
    geo_lon: tuple | None = None
    if "lat_between" in filters:
        geo_lat = tuple(filters["lat_between"])
    if "lon_between" in filters:
        geo_lon = tuple(filters["lon_between"])

    for col_name, ops in filters.items():
        if col_name in {"lat_between", "lon_between"}:
            continue
        col = F.col(col_name)
        dtype = dtypes[col_name]

        for op, val in ops.items():
            if op in _COMPARE_OPS:
                ok, v = _cast_scalar(val, dtype)
                if not ok:
                    m = F.lit(False)
                elif op == "eq":
                    m = col == F.lit(v)
                elif op == "ne":
                    m = col != F.lit(v)
                elif op == "ge":
                    m = col >= F.lit(v)
                elif op == "le":
                    m = col <= F.lit(v)
                elif op == "gt":
                    m = col > F.lit(v)
                else:  # lt
                    m = col < F.lit(v)

            elif op == "between":
                ok_lo, lo = _cast_scalar(val[0], dtype)
                ok_hi, hi = _cast_scalar(val[1], dtype)
                m = (
                    col.between(F.lit(lo), F.lit(hi))
                    if (ok_lo and ok_hi)
                    else F.lit(False)
                )

            elif op == "in":
                ok, vals_cast = _cast_iterable(val, dtype)
                m = _in_column(col_name, col, vals_cast) if ok else F.lit(False)

            elif op == "like":
                needle = str(val).lower()
                m = F.lower(_like_col(col, dtype)).contains(F.lit(needle))

            elif op in {"lat_between", "lon_between"}:
                if op == "lat_between":
                    geo_lat = tuple(val)
                else:
                    geo_lon = tuple(val)
                continue

            else:  # pragma: no cover — whitelisted above
                raise FilterSpecError(f"Unknown operator '{op}' for '{col_name}'")

            mask = mask & _null_fail(m, col)

    if (geo_lat is not None) or (geo_lon is not None):
        if geo_lat is None or geo_lon is None:
            raise FilterSpecError(
                "Geo filters require both 'lat_between' and 'lon_between'"
            )
        if "latitude" not in dtypes or "longitude" not in dtypes:
            raise FilterSpecError(
                "Geo filters require 'latitude' and 'longitude' columns"
            )
        lat, lon = F.col("latitude"), F.col("longitude")
        casts = [
            _cast_scalar(geo_lat[0], dtypes["latitude"]),
            _cast_scalar(geo_lat[1], dtypes["latitude"]),
            _cast_scalar(geo_lon[0], dtypes["longitude"]),
            _cast_scalar(geo_lon[1], dtypes["longitude"]),
        ]
        if not all(ok for ok, _ in casts):
            geo_mask = F.lit(False)
        else:
            (lat_lo, lat_hi, lon_lo, lon_hi) = [v for _, v in casts]
            geo_mask = lat.between(F.lit(lat_lo), F.lit(lat_hi)) & lon.between(
                F.lit(lon_lo), F.lit(lon_hi)
            )
        mask = mask & geo_mask & lat.isNotNull() & lon.isNotNull()

    return mask


def filters_to_sql(
    schema: T.StructType, filters: Mapping[str, Any] | None
) -> str:
    """Render the same filter spec as an ANSI-SQL WHERE fragment (for the
    DuckDB oracle). Mirrors :func:`compile_filters` semantics."""
    if not filters:
        return "TRUE"
    validate_filters_schema(schema, filters)
    dtypes = {f.name: f.dataType for f in schema.fields}

    def q(v: Any) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, float) and not math.isfinite(v):
            # a bare nan / inf is a column name to SQL; the cast string
            # gives DuckDB Spark's order (NaN = NaN, NaN above +inf)
            return f"CAST('{v!r}' AS DOUBLE)"
        return repr(v)

    parts: list[str] = []
    geo_lat = tuple(filters["lat_between"]) if "lat_between" in filters else None
    geo_lon = tuple(filters["lon_between"]) if "lon_between" in filters else None

    for col_name, ops in filters.items():
        if col_name in {"lat_between", "lon_between"}:
            continue
        dtype = dtypes[col_name]
        for op, val in ops.items():
            if op in _COMPARE_OPS:
                ok, v = _cast_scalar(val, dtype)
                if not ok:
                    parts.append("FALSE")
                    continue
                sym = {"eq": "=", "ne": "<>", "ge": ">=", "le": "<=", "gt": ">", "lt": "<"}[op]
                parts.append(f"({col_name} {sym} {q(v)} AND {col_name} IS NOT NULL)")
            elif op == "between":
                ok_lo, lo = _cast_scalar(val[0], dtype)
                ok_hi, hi = _cast_scalar(val[1], dtype)
                if not (ok_lo and ok_hi):
                    parts.append("FALSE")
                else:
                    parts.append(
                        f"({col_name} BETWEEN {q(lo)} AND {q(hi)} "
                        f"AND {col_name} IS NOT NULL)"
                    )
            elif op == "in":
                ok, vals_cast = _cast_iterable(val, dtype)
                if not ok:
                    parts.append("FALSE")
                else:
                    lst = ", ".join(q(v) for v in vals_cast)
                    parts.append(
                        f"({col_name} IN ({lst}) AND {col_name} IS NOT NULL)"
                    )
            elif op == "like":
                needle = str(val).lower().replace("'", "''")
                parts.append(
                    f"(CONTAINS(LOWER(CAST({col_name} AS VARCHAR)), '{needle}') "
                    f"AND {col_name} IS NOT NULL)"
                )
            elif op in {"lat_between", "lon_between"}:
                if op == "lat_between":
                    geo_lat = tuple(val)
                else:
                    geo_lon = tuple(val)

    if (geo_lat is not None) or (geo_lon is not None):
        if geo_lat is None or geo_lon is None:
            raise FilterSpecError(
                "Geo filters require both 'lat_between' and 'lon_between'"
            )
        parts.append(
            f"(latitude BETWEEN {q(float(geo_lat[0]))} AND {q(float(geo_lat[1]))} "
            f"AND longitude BETWEEN {q(float(geo_lon[0]))} AND {q(float(geo_lon[1]))} "
            "AND latitude IS NOT NULL AND longitude IS NOT NULL)"
        )

    return " AND ".join(parts) if parts else "TRUE"


# ------------------------------------------------- pandas (serving tier)


def _like_haystack(s, dtype: T.DataType):
    """The lowercased string form of a column that ``like`` searches:
    arrays pipe-joined, everything stringified, NULL kept as NA."""
    if isinstance(dtype, T.ArrayType):
        # Spark's array_join skips NULL elements (no nullReplacement
        # given) — mirror that, never join a None as the literal
        # string 'None'
        joined = s.map(
            lambda a: None
            if a is None
            else "|".join(str(x) for x in a if x is not None)
        )
    else:
        joined = s.astype("string")
    return joined.str.lower()


def _as_spark_compares(s, dtype: T.DataType):
    """``s`` as Spark compares it with a filter literal: a FLOAT column
    meets the double literal ``_cast_scalar`` makes in double, so its
    float32 values are widened (a float32 comparison would find the
    float32 value nearest 36.1 equal to 36.1; Spark finds it below)."""
    if isinstance(dtype, T.FloatType):
        return s.astype("float64")
    return s


def filters_mask_pandas(
    schema: T.StructType,
    filters: Mapping[str, Any] | None,
    pdf,
    *,
    lowered: dict | None = None,
):
    """The SAME filter semantics evaluated over an in-RAM pandas frame —
    the serving tier's predicate engine (serving.LocalCorpusServe), and
    the reference's own execution model (its validators.py runs every
    op in pandas/NumPy over the resident metadata table).

    One semantics, three engines: this mirrors :func:`compile_filters`
    op-for-op — identical literal casting (_cast_scalar), NULL-fail on
    every conjunct, lowercase-contains ``like`` with pipe-joined arrays,
    paired inclusive geo — and the parity is pinned by
    tests/test_predicates.py::test_pandas_mask_matches_spark over every
    registry filter shape. Returns a boolean numpy array.

    ``lowered`` is a caller-held memo of ``like`` haystacks per column
    of ``pdf``: a frame that never changes (the serving tier's resident
    metadata) lowercases each searched column once instead of on every
    call. It changes no answer."""
    import numpy as np

    n = len(pdf)
    if not filters:
        return np.ones(n, dtype=bool)

    validate_filters_schema(schema, filters)
    dtypes = {f.name: f.dataType for f in schema.fields}
    if lowered is None:
        lowered = {}

    mask = np.ones(n, dtype=bool)
    geo_lat: tuple | None = None
    geo_lon: tuple | None = None
    if "lat_between" in filters:
        geo_lat = tuple(filters["lat_between"])
    if "lon_between" in filters:
        geo_lon = tuple(filters["lon_between"])

    def _notna(s: "pd.Series") -> "np.ndarray":
        return s.notna().to_numpy()

    for col_name, ops in filters.items():
        if col_name in {"lat_between", "lon_between"}:
            continue
        dtype = dtypes[col_name]
        raw = pdf[col_name]
        s = _as_spark_compares(raw, dtype)

        for op, val in ops.items():
            if op in _COMPARE_OPS:
                ok, v = _cast_scalar(val, dtype)
                if not ok:
                    m = np.zeros(n, dtype=bool)
                elif op == "eq":
                    m = (s == v).to_numpy()
                elif op == "ne":
                    m = (s != v).to_numpy()
                elif op == "ge":
                    m = (s >= v).to_numpy()
                elif op == "le":
                    m = (s <= v).to_numpy()
                elif op == "gt":
                    m = (s > v).to_numpy()
                else:  # lt
                    m = (s < v).to_numpy()
            elif op == "between":
                ok_lo, lo = _cast_scalar(val[0], dtype)
                ok_hi, hi = _cast_scalar(val[1], dtype)
                if ok_lo and ok_hi:
                    m = ((s >= lo) & (s <= hi)).to_numpy()
                else:
                    m = np.zeros(n, dtype=bool)
            elif op == "in":
                ok, vals_cast = _cast_iterable(val, dtype)
                m = s.isin(vals_cast).to_numpy() if ok else np.zeros(
                    n, dtype=bool
                )
            elif op == "like":
                needle = str(val).lower()
                hay = lowered.get(col_name)
                if hay is None:
                    hay = lowered[col_name] = _like_haystack(raw, dtype)
                m = (
                    hay.str.contains(needle, regex=False)
                    .fillna(False)
                    .to_numpy(dtype=bool)
                )
            else:  # pragma: no cover — whitelisted by the validator
                raise FilterSpecError(
                    f"Unknown operator '{op}' for '{col_name}'"
                )

            mask &= m & _notna(s)

    if (geo_lat is not None) or (geo_lon is not None):
        if geo_lat is None or geo_lon is None:
            raise FilterSpecError(
                "Geo filters require both 'lat_between' and 'lon_between'"
            )
        if "latitude" not in dtypes or "longitude" not in dtypes:
            raise FilterSpecError(
                "Geo filters require 'latitude' and 'longitude' columns"
            )
        lat = _as_spark_compares(pdf["latitude"], dtypes["latitude"])
        lon = _as_spark_compares(pdf["longitude"], dtypes["longitude"])
        casts = [
            _cast_scalar(geo_lat[0], dtypes["latitude"]),
            _cast_scalar(geo_lat[1], dtypes["latitude"]),
            _cast_scalar(geo_lon[0], dtypes["longitude"]),
            _cast_scalar(geo_lon[1], dtypes["longitude"]),
        ]
        if not all(ok for ok, _ in casts):
            geo_mask = np.zeros(n, dtype=bool)
        else:
            lat_lo, lat_hi, lon_lo, lon_hi = [v for _, v in casts]
            geo_mask = (
                ((lat >= lat_lo) & (lat <= lat_hi)).to_numpy()
                & ((lon >= lon_lo) & (lon <= lon_hi)).to_numpy()
            )
        mask &= geo_mask & _notna(lat) & _notna(lon)

    return mask
