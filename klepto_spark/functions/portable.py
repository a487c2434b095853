"""Portable SQL expression builders.

Expressions built here parse and evaluate IDENTICALLY in Spark SQL and DuckDB.
That one property powers the whole anonymiser design: the Spark side runs them
via ``F.expr`` (pure built-in functions -> JVM-side, whole-stage codegen, no
Python in the hot path), and the DuckDB correctness oracle runs the very same
text — so deterministic anonymisation is value-exact across both engines.

Portability contract (verified by tests/test_portable.py against both engines):
``md5``, ``concat``, ``substr(s, pos, len)`` (1-indexed), ``instr``, ``lower``,
``upper``, ``lpad``, ``coalesce``, ``CASE WHEN``, ``CAST(x AS STRING|BIGINT|
DOUBLE)``, ``%``, ``floor``. Everything else is derived from these.

The integer workhorse is :func:`hex_int`: md5 yields 32 lowercase hex chars;
``instr('0123456789abcdef', c) - 1`` maps one char to 0..15 in both engines,
and a base-16 polynomial over N chars gives a uniform 16^N-range integer.
"""

from __future__ import annotations

HEX = "0123456789abcdef"


def s(text: str) -> str:
    """Portable SQL string literal.

    Quotes are doubled ('' — works in Spark's default lexer AND DuckDB).
    Backslashes and control characters CANNOT be written identically in
    both engines (Spark backslash-escapes inside '...', DuckDB is ANSI),
    so they are spliced in via chr(n), which both evaluate the same way.
    """
    if "\\" not in text and not any(ord(c) < 32 for c in text):
        return "'" + text.replace("'", "''") + "'"
    parts: list[str] = []
    plain = ""
    for ch in text:
        if ch == "\\" or ord(ch) < 32:
            if plain:
                parts.append("'" + plain.replace("'", "''") + "'")
                plain = ""
            parts.append(f"chr({ord(ch)})")
        else:
            plain += ch
    if plain:
        parts.append("'" + plain.replace("'", "''") + "'")
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


def md5_of(*parts: str) -> str:
    """md5 over the concatenation of SQL string expressions."""
    if len(parts) == 1:
        return f"md5({parts[0]})"
    return f"md5(concat({', '.join(parts)}))"


def hex_char_val(char_sql: str) -> str:
    """Map one lowercase hex char to 0..15 (BIGINT)."""
    return f"cast(instr('{HEX}', {char_sql}) - 1 as bigint)"


def hex_int(hash_sql: str, pos: int, nchars: int) -> str:
    """Integer in [0, 16^nchars) from hex chars [pos, pos+nchars) of a hash
    expression (pos is 1-indexed). nchars <= 12 keeps it exact in BIGINT
    (16^12 = 2^48) AND in a double mantissa, should a caller ever cast —
    the HLL rho word (hll_portable, 48 bits) is the widest consumer."""
    assert 1 <= nchars <= 12
    terms = []
    for i in range(nchars):
        weight = 16 ** (nchars - 1 - i)
        val = hex_char_val(f"substr({hash_sql}, {pos + i}, 1)")
        terms.append(f"{val} * {weight}" if weight != 1 else val)
    return "(" + " + ".join(terms) + ")"


def hex_mod(hash_sql: str, pos: int, nchars: int, modulus: int, offset: int = 0) -> str:
    """offset + (hex_int % modulus) as BIGINT."""
    return mod_offset(hex_int(hash_sql, pos, nchars), modulus, offset)


def mod_offset(int_sql: str, modulus: int, offset: int = 0) -> str:
    """offset + (int_sql % modulus)."""
    expr = f"({int_sql} % {modulus})"
    if offset:
        expr = f"({expr} + {offset})"
    return expr


def pick(items: list[str], idx_sql: str) -> str:
    """Select items[idx] portably — NOT via per-engine arrays (Spark
    ``element_at`` vs DuckDB ``list_extract`` differ in name/null behavior)
    and NOT via an N-branch CASE (whose expression tree blows up Catalyst
    analysis + codegen time for composed lorem-text fakers): all items are
    space-padded to a fixed width inside one string literal, and indexing is
    a single substr + rtrim. idx_sql must evaluate in [0, len(items)).
    Items must not contain trailing spaces.
    """
    if len(items) == 1:
        return s(items[0])
    width = max(len(it) for it in items)
    assert not any(it.endswith(" ") for it in items)
    packed = "".join(it.ljust(width) for it in items)
    return f"rtrim(substr({s(packed)}, 1 + ({idx_sql}) * {width}, {width}))"


def pick_hashed(items: list[str], hash_sql: str, pos: int) -> str:
    """Select a list item by 2 hash hex chars (0..255) starting at pos."""
    return pick(items, hex_mod(hash_sql, pos, 2, len(items)))


def int_str(expr_sql: str) -> str:
    """BIGINT expression -> string, portably."""
    return f"cast({expr_sql} as string)"


def idiv(a_sql: str, b: int) -> str:
    """Portable non-negative integer division (Spark ``div`` and DuckDB ``//``
    differ in spelling; floor-of-double-division matches both for a >= 0)."""
    return f"cast(floor({a_sql} / {b}) as bigint)"


def fixed6(micro_sql: str) -> str:
    """Format a signed integer count of micro-units as a '%f'-style string
    with 6 decimals (e.g. -12345678 -> '-12.345678'). Mirrors the reference's
    ``fmt.Sprintf("%f", ...)`` for Latitude/Longitude
    (reference: pkg/anonymiser/anonymiser.go:103-104)."""
    absv = f"(CASE WHEN {micro_sql} < 0 THEN -({micro_sql}) ELSE {micro_sql} END)"
    sign = f"(CASE WHEN {micro_sql} < 0 THEN '-' ELSE '' END)"
    ip = idiv(absv, 1_000_000)
    frac = f"lpad(cast(({absv} % 1000000) as string), 6, '0')"
    return f"concat({sign}, cast({ip} as string), '.', {frac})"


def title_case(word_sql: str) -> str:
    """Capitalize first letter (initcap exists in both engines but differs on
    multi-word input; this is single-word safe in both)."""
    return (f"concat(upper(substr({word_sql}, 1, 1)), "
            f"lower(substr({word_sql}, 2, length({word_sql}) - 1)))")
