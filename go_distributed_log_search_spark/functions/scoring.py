"""Match scoring — reference-parity additive field-weight scorer (A3).

Reference: /root/reference/src/commands/search.go:222-264. The implemented
search predicate is case-insensitive SUBSTRING containment of the whole
query string against every string field (P10, search.go:228); the score is
an additive sum of hardcoded per-field weights over the fields that matched
(search.go:230-243):

    title/body/message            +10
    severity_text/level/content    +8
    service/class/operation        +6
    tags/category                  +4
    author/user_id                 +3
    any other string field         +2
    any string value in a nested map +3

A document is kept iff score > 0 (search.go:258-264). The predicate and
the scorer are each one Catalyst expression built as SQL text (one
``F.expr`` parse, not a chain of Column-API round trips) — no UDF. The
query enters as a conf-independent literal (``sqltext.string_literal``).
"""

from __future__ import annotations

from .sqltext import column_ref, string_literal

# search.go:230-243 weight classes by field name.
FIELD_WEIGHTS: dict[str, float] = {
    "title": 10.0, "body": 10.0, "message": 10.0, "text": 10.0,
    "severity_text": 8.0, "level": 8.0, "content": 8.0,
    "service": 6.0, "class": 6.0, "operation": 6.0, "op": 6.0, "tool": 6.0,
    "tags": 4.0, "category": 4.0,
    "author": 3.0, "user_id": 3.0,
}
DEFAULT_STRING_WEIGHT = 2.0
NESTED_MAP_WEIGHT = 3.0


def field_weight(name: str) -> float:
    """Weight by the LEAF field name: a dotted struct-child path like
    ``resource.service`` weighs as ``service`` (+6) — the reference scores
    flattened dotted names by their terminal segment (search.go:229-243)."""
    return FIELD_WEIGHTS.get(name.rsplit(".", 1)[-1], DEFAULT_STRING_WEIGHT)


def _contains(ref: str, needle: str) -> str:
    """P10: lowercase substring containment (search.go:228)."""
    return f"instr(lower({ref}), {needle}) > 0"


def match_sql(query: str, string_fields: list[str]) -> str:
    """P10 over ``string_fields`` (column names or dotted struct paths):
    TRUE when some field contains the query, case-insensitively. A row
    whose fields are all NULL or non-matching is FALSE-or-NULL, which a
    filter drops."""
    needle = string_literal(query.lower())
    return " OR ".join(_contains(column_ref(f), needle) for f in string_fields) or "false"


def score_sql(query: str, string_fields: list[str], map_fields: list[str] | None = None) -> str:
    """A3: additive score over matching fields, left to right."""
    needle = string_literal(query.lower())
    parts = [
        f"(CASE WHEN {_contains(column_ref(f), needle)} THEN {field_weight(f)!r}D ELSE 0.0D END)"
        for f in string_fields
    ]
    for mf in map_fields or []:
        # +3 per matching nested string value (search.go:245-253)
        matched = f"filter(map_values({column_ref(mf)}), _v -> {_contains('_v', needle)})"
        parts.append(f"(CAST(size({matched}) AS DOUBLE) * {NESTED_MAP_WEIGHT!r}D)")
    return " + ".join(parts) or "0.0D"
