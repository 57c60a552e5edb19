"""Payload-filter DSL → Catalyst Column compiler.

This is the reference's core query semantics (ApplyPayloadFilters,
KinesisThreadJobs.cs:731-814) re-expressed as a *compiled* columnar
predicate instead of a per-record interpreter:

- 18 string-comparison verbs (KinesisThreadJobs.cs:746-805).  Every
  comparison — including Greater/Less Than — is an ORDINAL STRING
  comparison (``string.Compare(..., Ordinal)``, :778-800), so
  ``"9" > "10"`` is TRUE.  Spark's binary-collation string ``>``
  matches ordinal for ASCII; the CI verbs use ``lower()`` (documented
  divergence from OrdinalIgnoreCase only for exotic Unicode case pairs).
- AND/OR combinators with short-circuit (:807-813) — Catalyst's boolean
  simplification supersedes the hand-rolled short-circuit; semantics
  are identical by boolean algebra.
- Missing property (:736-741): AND → record rejected, OR → filter
  skipped.  Both collapse to ``extracted.isNotNull() & verb_expr``
  folded by the combinator (a skipped filter contributes False to OR).
- Invalid / non-object JSON payload (:705-708): parse error is caught
  and the record PASSES unfiltered.  ``JObject.Parse`` accepts only a
  top-level object, so a JSON array/scalar payload also passes.
- Empty filter list (:694): filtering never runs → all records pass.

Known tolerated divergences (SURVEY.md §2 F-semantics):
- JSON ``null`` property value: Json.NET's ``SelectToken`` returns a
  null-typed token whose ``ToString()`` is ``""``; ``get_json_object``
  returns SQL NULL → we treat it as *missing*.
- Non-leaf extraction returns compact JSON (Json.NET pretty-prints).
- Booleans extract as ``true``/``false`` (Json.NET: ``True``/``False``).

Scale note: one ``get_json_object`` per *distinct* property (reused
across verbs), whole predicate stays inside WholeStageCodegen — no
Python in the hot path, so the filter runs at scan speed and pushes
past the shuffle-free pipeline at any data size.
"""

from __future__ import annotations

import json
import operator
from collections.abc import Iterable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from decisions_kinesis_spark.config import FilterVerb, PayloadFilter


def json_object_valid(payload: Column) -> Column:
    """True iff ``payload`` parses as a top-level JSON object.

    Emulates ``JObject.Parse`` acceptance (KinesisThreadJobs.cs:698):
    valid JSON *and* top-level object — arrays/scalars/garbage all fail
    and therefore pass the filter stage unfiltered (:705-708).
    """
    # Leading whitespace is allowed (JObject.Parse accepts any — plain
    # ltrim only strips 0x20, so "\n{...}" would misclassify as
    # invalid).  One regexp MATCH per row: the previous spelling
    # (regexp_replace + startswith) allocated a stripped copy of every
    # payload before testing its first byte; rlike '^\s*\{' is the
    # same boolean with no intermediate string.
    return F.get_json_object(payload, "$").isNotNull() & payload.rlike(
        r"^\s*\{"
    )


_CI = " (Case Insensitive)"

#: Each verb's base comparison; a case-insensitive verb applies its
#: base to lowered operands.
_BASE_OPS = {
    "Equals": operator.eq,
    "Not Equals": operator.ne,
    "Contains": Column.contains,
    "Starts With": Column.startswith,
    "Ends With": Column.endswith,
    "Greater Than": operator.gt,
    "Less Than": operator.lt,
    "Greater Than or Equal": operator.ge,
    "Less Than or Equal": operator.le,
}


def _verb_expr(v: Column, verb: FilterVerb, value: str) -> Column:
    """One verb → one Column predicate (KinesisThreadJobs.cs:746-805)."""
    base, ci, _ = verb.value.partition(_CI)
    if ci:
        v, value = F.lower(v), value.lower()
    return _BASE_OPS[base](v, F.lit(value))


def compile_payload_filters(
    payload: Column,
    filters: Iterable[PayloadFilter],
    use_or: bool = False,
) -> Column:
    """Compile a filter list to a single boolean Column.

    Full truth table of KinesisThreadJobs.cs:731-814 (see module
    docstring).  One JSON extraction per distinct property.
    """
    filters = list(filters)
    if not filters:  # guard at :694 — no filters, everything passes
        return F.lit(True)

    extracted: dict[str, Column] = {}
    for f in filters:
        if f.property not in extracted:
            extracted[f.property] = F.get_json_object(payload, "$." + f.property)

    per_filter = []
    for f in filters:
        v = extracted[f.property]
        # isNotNull first: missing property → False → AND rejects (:739),
        # OR treats as non-match i.e. "skip" (:737-738).
        per_filter.append(v.isNotNull() & _verb_expr(v, f.verb, f.value))

    combined = reduce((Column.__or__ if use_or else Column.__and__), per_filter)
    # Invalid/non-object payload passes unfiltered (:705-708).
    return F.when(~json_object_valid(payload), F.lit(True)).otherwise(combined)


def apply_payload_filters(
    df: DataFrame,
    payload_col: str,
    filters: Iterable[PayloadFilter],
    use_or: bool = False,
) -> DataFrame:
    """Batch API: keep rows whose ``payload_col`` passes the filter config."""
    return df.filter(compile_payload_filters(F.col(payload_col), filters, use_or))


# ---------------------------------------------------------------------------
# Pure-Python reference model — used only by differential/property tests
# (SURVEY.md §5 test plan #4), mirroring ApplyPayloadFilters semantics
# with this engine's documented divergences applied.
# ---------------------------------------------------------------------------


def _select_token(obj: object, dotted: str) -> object | None:
    cur = obj
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


def _token_to_string(token: object) -> str | None:
    """``get_json_object``-style stringification (engine semantics)."""
    if token is None:  # JSON null → treated as missing (documented divergence)
        return None
    if isinstance(token, bool):
        return "true" if token else "false"
    if isinstance(token, (dict, list)):
        return json.dumps(token, separators=(",", ":"))
    return str(token)


def _verb_match_py(v: str, verb: FilterVerb, value: str) -> bool:
    ci = "(Case Insensitive)" in verb.value
    a, b = (v.lower(), value.lower()) if ci else (v, value)
    base = verb.value.replace(" (Case Insensitive)", "")
    return {
        "Equals": a == b,
        "Not Equals": a != b,
        "Contains": b in a,
        "Starts With": a.startswith(b),
        "Ends With": a.endswith(b),
        "Greater Than": a > b,
        "Less Than": a < b,
        "Greater Than or Equal": a >= b,
        "Less Than or Equal": a <= b,
    }[base]


def payload_filters_py(
    payload_text: str | None,
    filters: list[PayloadFilter],
    use_or: bool = False,
) -> bool:
    """Row-level reference model of the compiled predicate."""
    if not filters:
        return True
    try:
        obj = json.loads(payload_text) if payload_text is not None else None
    except (ValueError, TypeError):
        obj = None
    if not isinstance(obj, dict):  # invalid or non-object → pass (:705-708)
        return True
    for f in filters:
        verb = f.verb if isinstance(f.verb, FilterVerb) else FilterVerb(f.verb)
        v = _token_to_string(_select_token(obj, f.property))
        matched = v is not None and _verb_match_py(v, verb, f.value)
        if use_or and matched:
            return True
        if not use_or and not matched:
            return False
    return not use_or
