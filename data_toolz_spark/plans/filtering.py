"""AWS-event-filtering predicate DSL compiled to PySpark Columns.

Reference semantics (datatoolz/filtering.py, verified against
tests/test_filtering.py — see SURVEY.md §2.4):

* the *spec* is a list of filter dicts — **OR across the list**
  (filtering.py:140-144);
* within one filter dict — **AND across fields** (filtering.py:155);
* a field's criteria list — **OR across criteria** (filtering.py:115-124);
* a field whose criteria is a dict recurses as a nested sub-filter with
  an extended path (filtering.py:146-155);
* empty / None spec matches everything (filtering.py:137-138);
* a missing path yields False for every matcher except
  ``{"exists": False}`` (filtering.py:83-93,64-65).

Five matchers (filtering.py:33-80):
  scalar value (``str|int|float|bool|None``)  — equality / is-null
  ``{"anything-but": [...]}``                 — negated membership
  ``{"numeric": [op, ref, op, ref, ...]}``    — pairwise-ANDed compares
  ``{"exists": bool}``                        — true presence test
  ``{"prefix": "s"}``                         — string startswith

Spark-first design: instead of the reference's row-at-a-time Python
interpreter, ``compile_filter`` runs **once on the driver** and emits a
single boolean ``pyspark.sql.Column``.  Catalyst then constant-folds,
codegens, and pushes eligible conjuncts (equality, numeric ranges,
prefix) into the parquet scan — the DSL becomes zero-overhead at
execution time.

Three-valued-logic care (SURVEY §7.4.1): Spark predicates yield NULL
where the reference yields False.  The DSL has **no negation operator**
(``anything-but`` is compiled with an explicit null branch), so NULLs
propagate bottom-up through the AND/OR tree and are dropped by the
filter context — exactly the reference's False.  Crucially the
compiler does NOT wrap criteria in ``coalesce(expr, false)``: that
wrapper is semantically redundant in a filter and it blocks parquet
predicate pushdown (Catalyst cannot translate coalesce into a data
source filter).  Callers that need the compiled Column as a *value*
(e.g. a boolean flag in a projection) should pass
``null_as_false=True`` to get a single top-level coalesce.

Two path-resolution modes:

* ``mode="column"`` — paths address (possibly nested struct) columns.
  When a ``schema`` is supplied, path existence is decided at compile
  time (a truly absent field is a *constant*, exactly like the
  reference's KeyError branch); a runtime NULL is treated as
  "present with None value" — the closest relational encoding.
* ``mode="json"`` — paths address keys inside a JSON-string column via
  ``get_json_object``.  Delta (documented, SURVEY §7.4.2): JSON ``null``
  and an absent key are indistinguishable to ``get_json_object``, so
  ``exists`` and is-null are approximations on this mode.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Any, Iterable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType, StructType

ANYTHING_BUT = "anything-but"
NUMERIC = "numeric"
EXISTS = "exists"
PREFIX = "prefix"
MATCHER_KEYS = frozenset({ANYTHING_BUT, NUMERIC, EXISTS, PREFIX})

# one table for both evaluators: the operators build a Column
# predicate from a Column and act as plain comparisons on Python values
NUMERIC_OPS = {
    "=": lambda c, v: c == v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
}

Scalar = str | int | float | bool | None


def pairwise(seq: Sequence[Any]) -> Iterator[tuple[Any, Any]]:
    """(s0, s1), (s2, s3), ... — consumes two items per step.

    Parity with the reference's utils.pairwise (utils.py:59-62), which
    powers the numeric matcher's [op, ref, op, ref, ...] layout.
    """
    it = iter(seq)
    return zip(it, it)


# ---------------------------------------------------------------------------
# path resolution
# ---------------------------------------------------------------------------


class _Resolved:
    """A resolved field reference: its value expression + presence info.

    ``present`` is a tri-state: True (statically known to exist),
    False (statically known absent), or None (unknown until runtime —
    json mode, or column mode without a schema).
    """

    def __init__(
        self,
        value: Column,
        present: bool | None,
        dtype: DataType | None,
        is_json: bool,
        json_source: Column | None = None,
        path: Sequence[str] = (),
    ) -> None:
        self.value = value
        self.present = present
        self.dtype = dtype
        self.is_json = is_json
        self.json_source = json_source
        self.path = tuple(path)


def _lookup_struct_type(schema: StructType, path: Sequence[str]) -> DataType | None:
    """Walk a nested StructType; None when any path segment is absent."""
    current: DataType = schema
    for segment in path:
        if not isinstance(current, StructType) or segment not in current.names:
            return None
        current = current[segment].dataType
    return current


def _resolve_column(path: Sequence[str], schema: StructType | None) -> _Resolved:
    expr = reduce(lambda acc, seg: acc.getField(seg), path[1:], F.col(path[0]))
    if schema is None:
        return _Resolved(expr, present=None, dtype=None, is_json=False)
    dtype = _lookup_struct_type(schema, path)
    if dtype is None:
        return _Resolved(F.lit(None), present=False, dtype=None, is_json=False)
    return _Resolved(expr, present=True, dtype=dtype, is_json=False)


def _resolve_json(path: Sequence[str], json_column: str | Column) -> _Resolved:
    source = F.col(json_column) if isinstance(json_column, str) else json_column
    json_path = "$." + ".".join(path)
    expr = F.get_json_object(source, json_path)
    return _Resolved(
        expr,
        present=None,
        dtype=StringType(),
        is_json=True,
        json_source=source,
        path=path,
    )


# ---------------------------------------------------------------------------
# matcher compilation
#
# Every matcher returns a Column that is True exactly where the
# reference matcher returns True; it may be NULL where the reference
# returns False (never the other way around), which a filter context
# treats identically.  Expressions are kept in pushdown-eligible shapes:
# =, IN/NOT IN, range compares, IsNull/IsNotNull, StringStartsWith.
# ---------------------------------------------------------------------------


def _typed_value(ref: _Resolved, criterium: Scalar) -> Column:
    """Coerce the field expression to the criterium's comparison domain.

    JSON mode extracts everything as strings, so numeric / boolean
    criteria need an explicit cast — mirroring the reference's native
    Python typing of JSON-parsed records.
    """
    if not ref.is_json:
        return ref.value
    if isinstance(criterium, bool):
        return ref.value.cast("boolean")
    if isinstance(criterium, (int, float)):
        return ref.value.cast("double")
    return ref.value


def _compile_equality(ref: _Resolved, criterium: Scalar) -> Column:
    if criterium is None:
        # present-but-None (filtering.py:33-34 with value None); an
        # absent field must NOT match (err branch → False).
        if ref.present is False:
            return F.lit(False)
        return ref.value.isNull()
    if ref.present is False:
        return F.lit(False)
    # Python equality quirk 1 == True carries over: Spark casts the
    # boolean literal when the column is numeric (SURVEY §7.4.8).
    return _typed_value(ref, criterium) == F.lit(criterium)


def _compile_anything_but(ref: _Resolved, spec: dict) -> Column:
    allowed = spec[ANYTHING_BUT]
    if not isinstance(allowed, list):
        raise ValueError(
            f"'{ANYTHING_BUT}' criterium reference must be a list of values"
        )
    if ref.present is False:
        return F.lit(False)
    non_null = [v for v in allowed if v is not None]
    none_listed = any(v is None for v in allowed)
    # Reference semantics (filtering.py:37-44): a present-None value is
    # in/out of the list by plain Python ``in`` — no 3VL.  Spark NOT IN
    # yields NULL on NULL input, so the null case is an explicit
    # disjunct/conjunct — kept as IsNull/IsNotNull + Not(In), all of
    # which push into the parquet scan.
    if not non_null:
        # e.g. [] or [None]: present value matches iff it's non-null
        # when None is listed, or unconditionally when the list is empty
        # (json-mode absent-key delta documented in the module docstring)
        return ref.value.isNotNull() if none_listed else F.lit(True)
    typed = _typed_value(ref, non_null[0])
    not_in = ~typed.isin(non_null)
    if none_listed:
        return ref.value.isNotNull() & not_in
    return ref.value.isNull() | not_in


def _compile_numeric(ref: _Resolved, spec: dict) -> Column:
    chain = spec[NUMERIC]
    if len(chain) % 2 != 0:
        raise ValueError(
            f"'{NUMERIC}' criterium reference must be an even sized array "
            "in form of [operation1, reference_value1, ...]"
        )
    if ref.present is False:
        return F.lit(False)
    value = ref.value.cast("double") if ref.is_json else ref.value
    parts = []
    for op, threshold in pairwise(chain):
        if op not in NUMERIC_OPS:
            raise ValueError(
                f"'{NUMERIC}' operation must be one of {sorted(NUMERIC_OPS)}, "
                f"got {op!r}"
            )
        if not isinstance(threshold, (int, float)) or isinstance(threshold, bool):
            raise TypeError(
                f"'{NUMERIC}' reference value must be numeric, got {threshold!r}"
            )
        parts.append(NUMERIC_OPS[op](value, F.lit(threshold)))
    return reduce(and_, parts) if parts else F.lit(True)


def _compile_exists(ref: _Resolved, spec: dict) -> Column:
    wanted = bool(spec[EXISTS])
    if ref.present is not None:
        # compile-time constant — Catalyst folds the whole conjunct away
        return F.lit(wanted == ref.present)
    if ref.is_json and ref.json_source is not None and len(ref.path) == 1:
        # EXACT presence test: parse the payload's top level as a map —
        # unlike get_json_object, map_contains_key distinguishes a key
        # holding JSON null from an absent key (SURVEY §7.4.2 resolved
        # for top-level keys).  A NULL/unparseable payload has no keys.
        contains = F.coalesce(
            F.map_contains_key(
                F.from_json(ref.json_source, "map<string,string>"),
                ref.path[0],
            ),
            F.lit(False),
        )
        return contains if wanted else ~contains
    # runtime approximation for typed columns and nested JSON paths:
    # non-null ⇒ present.  Exact for columns with no nulls; nested JSON
    # null vs absent remains a documented delta.
    return ref.value.isNotNull() if wanted else ref.value.isNull()


def _compile_prefix(ref: _Resolved, spec: dict) -> Column:
    prefix = spec[PREFIX]
    if not isinstance(prefix, str):
        raise ValueError(f"'{PREFIX}' criterium reference must be a string")
    if ref.present is False:
        return F.lit(False)
    # Reference requires isinstance(value, str) (filtering.py:74-79):
    # a statically non-string column can never match.
    if ref.dtype is not None and not isinstance(ref.dtype, StringType):
        return F.lit(False)
    return ref.value.startswith(prefix)


def _compile_criterium(ref: _Resolved, criterium: Any) -> Column:
    if criterium is None or isinstance(criterium, (str, int, float, bool)):
        return _compile_equality(ref, criterium)
    if isinstance(criterium, dict) and len(criterium) == 1:
        key = next(iter(criterium))
        if key == ANYTHING_BUT:
            return _compile_anything_but(ref, criterium)
        if key == NUMERIC:
            return _compile_numeric(ref, criterium)
        if key == EXISTS:
            return _compile_exists(ref, criterium)
        if key == PREFIX:
            return _compile_prefix(ref, criterium)
    raise TypeError(f"unsupported filter criterium: {criterium!r}")


# ---------------------------------------------------------------------------
# spec walking
# ---------------------------------------------------------------------------


def _compile_fields(
    filter_: dict,
    root: tuple[str, ...],
    resolve,
) -> Column:
    """AND across the fields of one filter dict (filtering.py:146-155)."""
    conjuncts: list[Column] = []
    for field, criteria in filter_.items():
        path = root + (field,)
        if isinstance(criteria, list):
            ref = resolve(path)
            disjuncts = [_compile_criterium(ref, c) for c in criteria]
            conjuncts.append(
                reduce(or_, disjuncts) if disjuncts else F.lit(False)
            )
        elif isinstance(criteria, dict):
            conjuncts.append(_compile_fields(criteria, path, resolve))
        # non-list/dict criteria contribute nothing to the AND —
        # reference silently skips them (filtering.py:151-154)
    return reduce(and_, conjuncts) if conjuncts else F.lit(True)


def compile_filter(
    filters: list[dict] | None,
    *,
    mode: str = "column",
    json_column: str | Column | None = None,
    schema: StructType | None = None,
    null_as_false: bool = False,
) -> Column:
    """Compile a filter spec into one boolean Column.

    Parameters
    ----------
    filters : the DSL spec — a list of filter dicts ORed together.
    mode : ``"column"`` (paths are columns / nested struct fields) or
        ``"json"`` (paths are keys in a JSON string column).
    json_column : required in json mode — the column holding the JSON.
    schema : optional DataFrame schema; enables compile-time
        existence folding in column mode.
    null_as_false : wrap the result in a single ``coalesce(_, false)``.
        Needed when the Column is projected as a value; leave False in
        filter contexts so predicates stay pushdown-eligible.
    """
    if mode not in ("column", "json"):
        raise ValueError(f"mode must be 'column' or 'json', got {mode!r}")
    if mode == "json":
        if json_column is None:
            raise ValueError("json mode requires json_column")
        resolve = lambda path: _resolve_json(path, json_column)  # noqa: E731
    else:
        resolve = lambda path: _resolve_column(path, schema)  # noqa: E731

    if not filters:
        return F.lit(True)
    disjuncts = [_compile_fields(f, (), resolve) for f in filters]
    compiled = reduce(or_, disjuncts)
    return F.coalesce(compiled, F.lit(False)) if null_as_false else compiled


# ---------------------------------------------------------------------------
# facade
# ---------------------------------------------------------------------------


class Filter:
    """User-facing facade mirroring the reference's ``Filter`` class
    (filtering.py:127-155) with a Spark-native execution path.

    >>> flt = Filter([{"event_type": ["click"], "value": [{"numeric": [">", 10]}]}])
    >>> clicks = flt.apply(events_df)                 # compiled, pushed down
    >>> flt({"event_type": "click", "value": 11})      # row-at-a-time parity
    True
    """

    def __init__(self, filters: list[dict] | None) -> None:
        self.filters = filters or []

    # -- Spark path ---------------------------------------------------

    def column(
        self,
        *,
        mode: str = "column",
        json_column: str | Column | None = None,
        schema: StructType | None = None,
    ) -> Column:
        return compile_filter(
            self.filters, mode=mode, json_column=json_column, schema=schema
        )

    def apply(
        self,
        df: DataFrame,
        *,
        json_column: str | Column | None = None,
    ) -> DataFrame:
        """``df.filter(compiled)`` — json mode when ``json_column`` given."""
        if json_column is not None:
            pred = self.column(mode="json", json_column=json_column)
        else:
            pred = self.column(schema=df.schema)
        return df.filter(pred)

    # -- dict-record parity path (driver-side, for event routing) ------

    def __call__(self, entry) -> bool:
        record = dict(entry)
        if not self.filters:
            return True
        return any(self._match(record, f, ()) for f in self.filters)

    def _match(self, record: dict, filter_: dict, root: tuple[str, ...]) -> bool:
        outcomes = []
        for field, criteria in filter_.items():
            path = root + (field,)
            if isinstance(criteria, list):
                value, missing = _walk(record, path)
                outcomes.append(
                    any(_eval_criterium(value, missing, c) for c in criteria)
                )
            elif isinstance(criteria, dict):
                outcomes.append(self._match(record, criteria, path))
        return all(outcomes)


def _walk(record: dict, path: Iterable[str]) -> tuple[Any, bool]:
    value: Any = record
    for segment in path:
        try:
            value = value[segment]
        except (KeyError, TypeError):
            return None, True
    return value, False


def _eval_criterium(value: Any, missing: bool, criterium: Any) -> bool:
    """Row-at-a-time evaluation with semantics identical to the compiled
    Column path (and to the reference's matchers, filtering.py:33-80)."""
    if criterium is None or isinstance(criterium, (str, int, float, bool)):
        return (not missing) and value == criterium
    if isinstance(criterium, dict) and len(criterium) == 1:
        key = next(iter(criterium))
        if key == ANYTHING_BUT:
            allowed = criterium[key]
            if not isinstance(allowed, list):
                raise ValueError(
                    f"'{ANYTHING_BUT}' criterium reference must be a list of values"
                )
            return (not missing) and value not in allowed
        if key == NUMERIC:
            chain = criterium[key]
            if len(chain) % 2 != 0:
                raise ValueError(
                    f"'{NUMERIC}' criterium reference must be an even sized "
                    "array in form of [operation1, reference_value1, ...]"
                )
            if missing:
                return False
            ok = True
            for op, threshold in pairwise(chain):
                if op not in NUMERIC_OPS:
                    raise ValueError(
                        f"'{NUMERIC}' operation must be one of "
                        f"{sorted(NUMERIC_OPS)}, got {op!r}"
                    )
                ok = ok and bool(NUMERIC_OPS[op](value, threshold))
            return ok
        if key == EXISTS:
            return bool(criterium[key]) == (not missing)
        if key == PREFIX:
            prefix = criterium[key]
            if not isinstance(prefix, str):
                raise ValueError(f"'{PREFIX}' criterium reference must be a string")
            return (not missing) and isinstance(value, str) and value.startswith(
                prefix
            )
    raise TypeError(f"unsupported filter criterium: {criterium!r}")

