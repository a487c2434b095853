"""Deterministic anonymiser registry — the engine's scalar-function surface.

Covers every faker name the reference dispatches by reflection
(reference: pkg/anonymiser/fake.go:11-102; dispatch
pkg/anonymiser/anonymiser.go:51-120), plus:

- ``literal:<value>`` constant overwrite (anonymiser.go:19-20,77-80)
- colon-separated args ``Type:a:b`` for the 8 parameterised fakers
  (anonymiser.go:27-36,122-164); missing/invalid args fall back to
  zero-values, mirroring parseArgs
- the ``.<4 hex>`` uniqueness salt on EmailAddress/UserName
  (anonymiser.go:94-102)
- ``%f`` 6-decimal formatting for Latitude/Longitude (anonymiser.go:103-104)

Deliberate divergences from the reference (SURVEY §4.3):
- values are DETERMINISTIC: value = f(seed, table.column context, source
  value). The reference draws fresh randomness per call, which makes runs
  unreproducible and distributed retries inconsistent; keyed hashing gives
  stable output across executors, retries, and engines (SURVEY §7 hard-part 1).
- unknown faker names raise at plan time instead of emitting the
  "Invalid anonymiser: X" poison value (anonymiser.go:84-91 — the reference
  itself marks this with a TODO to abort).
- ``Year``/``MonthNum``/``WeekdayNum`` return proper numeric strings; the
  reference's reflection formats non-string returns as "<int Value>" (a Go
  ``reflect.Value.String()`` artifact, plainly a bug, not preserved).

Every generator compiles to a portable SQL expression (see
functions/portable.py), so the hot path is built-in JVM expressions under
whole-stage codegen — no Python UDFs — and the DuckDB oracle can reproduce
values exactly. The engine itself runs that text's Spark execution twin
(:func:`anonymise_spark_factored`): the same values, types and
nullability from cheaper Spark-only kernels.
"""

from __future__ import annotations

import logging

from klepto_spark.functions import portable as P
from klepto_spark.functions.portable import s

log = logging.getLogger(__name__)

DEFAULT_SEED = "klepto"
LITERAL_PREFIX = "literal:"

# ---------------------------------------------------------------------------
# Wordlists (small, embedded; compiled to CASE expressions)
# ---------------------------------------------------------------------------

FIRST_NAMES_MALE = ["James", "John", "Robert", "Michael", "David", "Richard",
                    "Joseph", "Thomas", "Charles", "Daniel", "Matthew", "Anthony",
                    "Mark", "Paul", "Steven", "Andrew"]
FIRST_NAMES_FEMALE = ["Mary", "Patricia", "Jennifer", "Linda", "Elizabeth",
                      "Barbara", "Susan", "Jessica", "Sarah", "Karen", "Nancy",
                      "Lisa", "Margaret", "Betty", "Sandra", "Ashley"]
FIRST_NAMES = FIRST_NAMES_MALE + FIRST_NAMES_FEMALE
LAST_NAMES = ["Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia",
              "Miller", "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez",
              "Gonzalez", "Wilson", "Anderson", "Taylor"]
PATRONYMICS_MALE = ["Ivanovich", "Petrovich", "Sergeevich", "Alexandrovich",
                    "Dmitrievich", "Nikolaevich", "Mikhailovich", "Andreevich"]
PATRONYMICS_FEMALE = ["Ivanovna", "Petrovna", "Sergeevna", "Alexandrovna",
                      "Dmitrievna", "Nikolaevna", "Mikhailovna", "Andreevna"]
PREFIXES = ["Mr.", "Mrs.", "Ms.", "Dr.", "Prof."]
SUFFIXES = ["Jr.", "Sr.", "II", "III", "PhD", "MD"]
BRANDS = ["Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Wonka",
          "Tyrell", "Cyberdyne", "Soylent", "Vandelay", "Hooli", "Aperture",
          "Monarch", "Sirius", "Octan"]
CITIES = ["Springfield", "Riverton", "Fairview", "Kingsport", "Lakeside",
          "Brookfield", "Ashford", "Mapleton", "Cedarville", "Elmwood",
          "Georgetown", "Hillcrest", "Oakdale", "Pinehurst", "Westfield",
          "Norwood"]
COLORS = ["red", "orange", "yellow", "green", "blue", "indigo", "violet",
          "black", "white", "gray", "brown", "pink", "teal", "maroon", "navy",
          "olive"]
COMPANY_SUFFIXES = ["Inc", "LLC", "Group", "Holdings", "Labs", "Systems",
                    "Partners", "Industries"]
CONTINENTS = ["Africa", "Antarctica", "Asia", "Australia", "Europe",
              "North America", "South America"]
COUNTRIES = ["Andorra", "Belgium", "Canada", "Denmark", "Estonia", "Finland",
             "Germany", "Hungary", "Iceland", "Japan", "Kenya", "Latvia",
             "Mexico", "Norway", "Portugal", "Sweden"]
CURRENCIES = ["Dollar", "Euro", "Pound", "Yen", "Franc", "Krona", "Peso",
              "Rupee", "Real", "Won", "Zloty", "Forint", "Koruna", "Leu",
              "Dinar", "Baht"]
CURRENCY_CODES = ["USD", "EUR", "GBP", "JPY", "CHF", "SEK", "MXN", "INR",
                  "BRL", "KRW", "PLN", "HUF", "CZK", "RON", "RSD", "THB"]
CC_TYPES = ["Visa", "MasterCard", "American Express", "Discover", "JCB",
            "Diners Club", "Maestro", "UnionPay"]
DOMAIN_ZONES = ["com", "net", "org", "io", "dev", "co", "info", "biz", "app",
                "eu", "us", "uk", "de", "fr", "nl", "se"]
INDUSTRIES = ["Agriculture", "Automotive", "Banking", "Construction",
              "Education", "Energy", "Fashion", "Healthcare", "Hospitality",
              "Insurance", "Logistics", "Manufacturing", "Media", "Retail",
              "Technology", "Telecom"]
JOB_TITLES = ["Engineer", "Analyst", "Manager", "Director", "Consultant",
              "Designer", "Developer", "Architect", "Administrator",
              "Coordinator", "Specialist", "Technician", "Officer",
              "Strategist", "Scientist", "Producer"]
LANGUAGES = ["English", "Spanish", "French", "German", "Italian", "Dutch",
             "Portuguese", "Swedish", "Polish", "Czech", "Finnish", "Greek",
             "Turkish", "Japanese", "Korean", "Arabic"]
LOREM = ["lorem", "ipsum", "dolor", "amet", "consectetur", "adipiscing",
         "elit", "sed", "tempor", "incididunt", "labore", "dolore", "magna",
         "aliqua", "enim", "minim", "veniam", "quis", "nostrud", "exercitation",
         "ullamco", "laboris", "nisi", "aliquip", "commodo", "consequat",
         "duis", "aute", "irure", "voluptate", "velit", "esse"]
PRODUCTS = ["Widget", "Gadget", "Sprocket", "Gizmo", "Doohickey", "Contraption",
            "Apparatus", "Device", "Instrument", "Fixture", "Module", "Unit",
            "Kit", "Tool", "Machine", "Appliance"]
MODELS = ["X100", "Z200", "A300", "B450", "C550", "D650", "E750", "F850",
          "G950", "H105", "J115", "K125", "L135", "M145", "N155", "P165"]
STATES = ["Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
          "Connecticut", "Delaware", "Florida", "Georgia", "Hawaii", "Idaho",
          "Illinois", "Indiana", "Iowa", "Kansas"]
STATE_ABBREVS = ["AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA",
                 "HI", "ID", "IL", "IN", "IA", "KS"]
STREETS = ["Main Street", "Oak Avenue", "Maple Drive", "Cedar Lane",
           "Park Road", "Elm Street", "Washington Avenue", "Lake Drive",
           "Hill Road", "River Lane", "Sunset Boulevard", "Church Street",
           "Mill Road", "Spring Street", "Highland Avenue", "Forest Drive"]
TITLES_WORK = ["Senior", "Junior", "Lead", "Principal", "Staff", "Chief",
               "Associate", "Head"]
USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:120.0) Gecko/20100101 Firefox/120.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148",
    "Mozilla/5.0 (Linux; Android 14) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Edg/120.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
MONTHS_SHORT = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
                "Oct", "Nov", "Dec"]
WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday",
            "Sunday"]
WEEKDAYS_SHORT = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
CHARS = "abcdefghijklmnopqrstuvwxyz"

# Fakers that take colon-args (reference: pkg/anonymiser/anonymiser.go:27-36).
REQUIRE_ARGS = {
    "CharactersN": 1, "DigitsN": 1, "ParagraphsN": 1, "SentencesN": 1,
    "WordsN": 1, "CreditCardNum": 1, "Password": 5, "Year": 2,
}

CC_PREFIX = {"visa": "4", "mastercard": "5", "amex": "34", "american express": "34",
             "discover": "6011", "jcb": "35", "diners club": "36", "maestro": "50",
             "unionpay": "62"}


# ---------------------------------------------------------------------------
# Builder machinery
# ---------------------------------------------------------------------------

class _Ctx:
    """Compile-time context for one anonymised column.

    ``h(n)`` returns the SQL for the n-th derived hash stream: each stream is
    md5(seed | context | stream-index | source value) — 32 hex chars = plenty
    of entropy per stream, new streams on demand for long composite values.

    ``dialect`` selects how the builders READ a stream, never what they
    compute: ``"portable"`` emits the text both engines (and so the DuckDB
    oracle) run; ``"spark"`` emits its Spark execution twin, which decodes
    byte draws from the stream's byte view, digit runs from one
    ``translate`` of its hex, and picks words from an array instead of
    walking a packed literal (see "Spark execution twins" below). Every
    builder goes through :meth:`hex_int` / :meth:`hex_mod` /
    :meth:`digit_run` / :meth:`pick`, so one builder emits both texts and
    they cannot drift apart.
    """

    def __init__(self, key_sql: str, context: str, seed: str,
                 raw_sql: str = "''", dialect: str = "portable"):
        self.key_sql = key_sql
        self.context = context
        self.seed = seed
        self.raw_sql = raw_sql  # NULL-safe source text (shape-dependent fakers)
        self.spark = dialect == "spark"

    def h(self, n: int = 0) -> str:
        prefix = f"{self.seed}|{self.context}|{n}|"
        return P.md5_of(s(prefix), self.key_sql)

    def view(self, n: int) -> str:
        """Stream n's 16 digest bytes as a 16-char string (char k has code
        point = byte k, 0..255): Spark-only."""
        return f"decode(unhex({self.h(n)}), 'ISO-8859-1')"

    def hex_int(self, n: int, pos: int, nchars: int) -> str:
        """:func:`P.hex_int` over stream n. In the Spark dialect a draw of
        two hex chars starting at an odd position (one whole digest
        byte) reads the byte view: one ``ascii(substr(..))``, 0.41 µs
        against 1.07 µs for two ``instr`` decodes. A one-char draw keeps
        the ``instr`` form: the byte view's ``shiftright``/``& 15`` is
        no cheaper (0.41 vs 0.38 µs) and building the view costs
        1.24 µs (local[1], C1-only JIT)."""
        if self.spark and nchars == 2 and pos % 2 == 1:
            return f"ascii(substr({self.view(n)}, {(pos + 1) // 2}, 1))"
        return P.hex_int(self.h(n), pos, nchars)

    def hex_mod(self, n: int, pos: int, nchars: int, modulus: int,
                offset: int = 0) -> str:
        """:func:`P.hex_mod` over stream n (same text in the portable
        dialect)."""
        return P.mod_offset(self.hex_int(n, pos, nchars), modulus, offset)

    def digit_run(self, n: int, take: int) -> str:
        """Spark dialect of ``take`` (<= 16) :func:`_digits` draws from
        stream n: hex char % 10 of each of the first ``take`` hex chars
        is ``translate(substr(md5, 1, take), 'abcdef', '012345')`` — one
        substr and one translate per run: 0.77 µs for 3 digits and 2.5 µs
        for 16, against 2.2 µs and 16.7 µs for per-char ``instr``
        decodes, casts and a concat (translate costs per char, so it
        never sees more of the md5 than it keeps). ``nullif(.., '')``
        never fires (the run is never empty); it keeps the inline text's
        nullable type (through ``%``), which the written schema and the
        dumped DDL carry."""
        return (f"nullif(translate(substr({self.h(n)}, 1, {take}), "
                f"'abcdef', '012345'), '')")

    def pick(self, items: list[str], idx_sql: str) -> str:
        """:func:`P.pick`; the Spark dialect indexes a constant array.
        ``try_element_at``, not ``element_at``: under ANSI the plain form
        is non-nullable and would change the output column's nullability
        (a dumped ``VARCHAR`` would become ``VARCHAR NOT NULL``)."""
        if self.spark and len(items) > 1:
            arr = ", ".join(s(it) for it in items)
            return f"try_element_at(array({arr}), {idx_sql} + 1)"
        return P.pick(items, idx_sql)

    def pick_hashed(self, items: list[str], n: int, pos: int) -> str:
        """Select a list item by 2 hex chars (0..255) of stream n at pos."""
        return self.pick(items, self.hex_mod(n, pos, 2, len(items)))


def _new_ctx(column: str, table: str, seed: str,
             dialect: str = "portable") -> _Ctx:
    context = f"{table}.{column}" if table else column
    return _Ctx(f"coalesce(cast({column} as string), '<NULL>')", context,
                seed, raw_sql=f"coalesce(cast({column} as string), '')",
                dialect=dialect)


def _digits(ctx: _Ctx, n: int, stream: int = 0) -> str:
    """n deterministic decimal digits (hex char % 10; 16 per stream)."""
    parts, st = [], stream
    for lo in range(0, n, 16):
        take = min(n - lo, 16)
        if ctx.spark:
            parts.append(ctx.digit_run(st, take))
        else:
            parts += [P.int_str(ctx.hex_mod(st, 1 + i, 1, 10))
                      for i in range(take)]
        st += 1
    return f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]


def _chars(ctx: _Ctx, n: int, stream: int = 0) -> str:
    """n deterministic lowercase letters."""
    parts = []
    for i in range(n):
        st, pos = stream + i // 16, 1 + 2 * (i % 16)
        idx = ctx.hex_mod(st, pos, 2, 26)
        parts.append(ctx.pick(list(CHARS), idx))
    return f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]


def _word(ctx: _Ctx, i: int) -> str:
    """i-th lorem word of this value's stream."""
    st, pos = i // 8, 1 + 4 * (i % 8)
    return ctx.pick_hashed(LOREM, st, pos)


def _words(ctx: _Ctx, n: int, start: int = 0) -> str:
    ws = []
    for i in range(n):
        if i > 0:
            ws.append(s(" "))
        ws.append(_word(ctx, start + i))
    return f"concat({', '.join(ws)})" if len(ws) > 1 else ws[0]


def _sentence(ctx: _Ctx, idx: int = 0) -> str:
    """Capitalized 5-word sentence ending '.'; word stream offset by idx."""
    first = P.title_case(_word(ctx, idx * 6))
    rest = _words(ctx, 4, start=idx * 6 + 1)
    return f"concat({first}, ' ', {rest}, '.')"


def _sentences(ctx: _Ctx, n: int, start: int = 0) -> str:
    parts = []
    for i in range(n):
        if i > 0:
            parts.append(s(" "))
        parts.append(_sentence(ctx, start + i))
    return f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]


def _paragraphs(ctx: _Ctx, n: int) -> str:
    parts = []
    for i in range(n):
        if i > 0:
            parts.append(s("\t"))
        parts.append(_sentences(ctx, 3, start=i * 3))
    return f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]


def _salt4(ctx: _Ctx) -> str:
    """'.<4 hex>' uniqueness suffix (reference: anonymiser.go:94-102), keyed
    instead of random so runs are reproducible (SURVEY §4.3.6)."""
    return f"concat('.', substr({ctx.h(9)}, 1, 4))"


def _username(ctx: _Ctx) -> str:
    return (f"concat(lower({ctx.pick_hashed(FIRST_NAMES, 0, 1)}), '_', "
            f"lower({ctx.pick_hashed(LAST_NAMES, 0, 5)}), "
            f"{_digits(ctx, 2, stream=8)})")


def _domain(ctx: _Ctx) -> str:
    return (f"concat(lower({ctx.pick_hashed(BRANDS, 1, 1)}), '.', "
            f"{ctx.pick_hashed(DOMAIN_ZONES, 1, 5)})")


def _micro_range(ctx: _Ctx, span_micro: int, offset_micro: int, pos: int = 1) -> str:
    """Deterministic integer micro-units in [offset, offset+span)."""
    u = ctx.hex_int(2, pos, 8)  # 0 .. 16^8-1
    scaled = P.idiv(f"({u} * {span_micro})", 16 ** 8)
    return f"({scaled} + {offset_micro})"


def _int_in(ctx: _Ctx, lo: int, hi: int, pos: int = 1, stream: int = 0) -> str:
    return P.int_str(ctx.hex_mod(stream, pos, 4, hi - lo + 1, offset=lo))


def _password(ctx: _Ctx, at_least: int, at_most: int, allow_upper: bool,
              allow_numeric: bool, allow_special: bool) -> str:
    at_least = max(0, at_least)
    at_most = max(at_least, at_most)
    if at_most == 0:
        return "''"
    n = min(at_most, 32)
    body = _chars(ctx, n, stream=3)
    if allow_upper and n >= 1:
        body = f"concat(upper(substr({body}, 1, 1)), substr({body}, 2, {n - 1}))"
    if allow_numeric and n >= 2:
        body = f"concat(substr({body}, 1, {n - 1}), {_digits(ctx, 1, stream=6)})"
    if allow_special:
        body = f"concat({body}, '!')"
    if at_most > at_least:
        length = ctx.hex_mod(7, 1, 4, at_most - at_least + 1, offset=at_least)
        extra = 2 if allow_special else 1
        return f"substr({body}, 1, cast({length} as int) + {extra - 1})"
    return body


# ---------------------------------------------------------------------------
# The registry: name -> builder(ctx, args) -> portable SQL (string result)
# ---------------------------------------------------------------------------

def _simple(items: list[str]):
    return lambda ctx, a: ctx.pick_hashed(items, 0, 1)


def _full_name(ctx, first_list, last_list=None, pos_shift=0):
    last_list = LAST_NAMES if last_list is None else last_list
    return (f"concat({ctx.pick_hashed(first_list, 0, 1 + pos_shift)}, ' ', "
            f"{ctx.pick_hashed(last_list, 0, 5 + pos_shift)})")


def _ipv4(ctx, a):
    octets = [P.int_str(ctx.hex_mod(0, 1 + 2 * i, 2, 256)) for i in range(4)]
    return ("concat(" + ", '.', ".join(octets) + ")")


def _ipv6(ctx, a):
    groups = [f"substr({ctx.h(0)}, {1 + 4 * i}, 4)" for i in range(8)]
    return ("concat(" + ", ':', ".join(groups) + ")")


def _credit_card_num(ctx, a):
    vendor = (a[0] if a else "").strip().lower()
    prefix = CC_PREFIX.get(vendor, "4")
    total = 15 if prefix == "34" else 16
    return f"concat('{prefix}', {_digits(ctx, total - len(prefix))})"


def _year(ctx, a):
    lo = _arg_int(a, 0)
    hi = _arg_int(a, 1)
    if hi < lo:
        lo, hi = hi, lo
    return _int_in(ctx, lo, hi)


def _arg_int(args: list[str], i: int) -> int:
    """parseArgs semantics: missing or unparsable -> 0 with a warning
    (reference: pkg/anonymiser/anonymiser.go:138-164)."""
    if i >= len(args):
        log.warning("anonymiser: missing argument %d, falling back to 0", i)
        return 0
    try:
        return int(args[i])
    except ValueError:
        log.warning("anonymiser: bad int argument %r, falling back to 0", args[i])
        return 0


def _arg_bool(args: list[str], i: int) -> bool:
    if i >= len(args):
        return False
    try:
        return args[i].strip().lower() in ("true", "t", "1")
    except AttributeError:
        return False


# Format-preserving masking: per-position substitution that keeps the
# source value's shape — digits stay digits, letters stay letters with
# case, punctuation/whitespace/unicode pass through, length is kept.
# Positions up to _FPE_MAX get per-value keyed substitutions (hash
# streams); any tail beyond that is statically masked with translate()
# (still shape- and length-preserving, just not value-keyed).
_FPE_MAX = 40
_FPE_SRC = CHARS + CHARS.upper() + "0123456789"
_FPE_DST = "x" * 26 + "X" * 26 + "9" * 10


def _format_preserve(ctx: _Ctx, a) -> str:
    # the RAW value drives the shape; NULL -> '' (concat-with-NULL
    # semantics differ between Spark and DuckDB, so never concat NULLs)
    raw = ctx.raw_sql
    parts = []
    for i in range(1, _FPE_MAX + 1):
        ch = f"substr({raw}, {i}, 1)"
        digit = P.int_str(ctx.hex_mod(10 + (i - 1) // 16,
                                      1 + ((i - 1) % 16), 1, 10))
        upper = ctx.pick(list(CHARS.upper()),
                         ctx.hex_mod(14 + (i - 1) // 8,
                                     1 + 2 * ((i - 1) % 8), 2, 26))
        lower = ctx.pick(list(CHARS),
                         ctx.hex_mod(20 + (i - 1) // 8,
                                     1 + 2 * ((i - 1) % 8), 2, 26))
        parts.append(
            f"case when {ch} = '' or {ch} is null then ''"
            f" when {ch} between '0' and '9' then {digit}"
            f" when {ch} between 'A' and 'Z' then {upper}"
            f" when {ch} between 'a' and 'z' then {lower}"
            f" else {ch} end")
    tail = (f"translate(substr({raw}, {_FPE_MAX + 1}), "
            f"{s(_FPE_SRC)}, {s(_FPE_DST)})")
    return f"concat({', '.join(parts)}, coalesce({tail}, ''))"


# Luhn-fixing variant: card/account numbers at rest are digit strings of
# 2..19 chars; masked output must still pass checksum validation or the
# target system's input validation rejects the anonymised copy.
_LUHN_MAX = 19


def _luhn_digit(ctx: _Ctx, i: int) -> str:
    """Keyed masked digit (BIGINT 0..9) for 1-based digit position i —
    the same hash streams as _format_preserve's digit positions, so the
    two variants mask a shared prefix identically."""
    return ctx.hex_mod(10 + (i - 1) // 16, 1 + ((i - 1) % 16), 1, 10)


def _format_preserve_luhn(ctx: _Ctx, a) -> str:
    """FormatPreserve whose output passes the Luhn check.

    A digits-only value of 2..19 chars masks to keyed digits of the same
    length with the LAST digit recomputed as the Luhn check digit over the
    masked payload (doubling every second digit from the right, 2d-9
    folding). Any other shape — separators, letters, overlong — falls back
    to plain FormatPreserve: a masked '12-34' has no principled digit to
    absorb the check, and shape fidelity wins over checksum fidelity there.
    """
    raw = ctx.raw_sql
    n = f"length({raw})"
    digit_ok = " and ".join(
        f"(substr({raw}, {i}, 1) = '' or "
        f"substr({raw}, {i}, 1) between '0' and '9')"
        for i in range(1, _LUHN_MAX + 1))
    is_card = f"({n} between 2 and {_LUHN_MAX} and {digit_ok})"
    contribs, payload = [], []
    for i in range(1, _LUHN_MAX + 1):
        d = _luhn_digit(ctx, i)
        doubled = f"case when {d} >= 5 then {d} * 2 - 9 else {d} * 2 end"
        # payload digit i (everything but the last position) contributes;
        # doubled iff its distance from the check digit is odd
        contribs.append(
            f"(case when {i} <= {n} - 1 then "
            f"(case when ({n} - {i}) % 2 = 1 then {doubled} else {d} end) "
            f"else 0 end)")
        payload.append(
            f"case when {i} <= {n} - 1 then {P.int_str(d)} else '' end")
    check = f"((10 - (({' + '.join(contribs)}) % 10)) % 10)"
    luhn_out = f"concat({', '.join(payload)}, cast({check} as string))"
    return (f"case when {is_card} then {luhn_out} "
            f"else {_format_preserve(ctx, a)} end")


_REGISTRY: dict = {
    "Brand": _simple(BRANDS),
    "FormatPreserve": _format_preserve,
    "FormatPreserveLuhn": _format_preserve_luhn,
    "Character": lambda ctx, a: _chars(ctx, 1),
    "Characters": lambda ctx, a: _chars(ctx, 5),
    "CharactersN": lambda ctx, a: _chars(ctx, min(max(_arg_int(a, 0), 0), 64)) if _arg_int(a, 0) > 0 else "''",
    "City": _simple(CITIES),
    "Color": _simple(COLORS),
    "Company": lambda ctx, a: (
        f"concat({ctx.pick_hashed(BRANDS, 0, 1)}, ' ', "
        f"{ctx.pick_hashed(COMPANY_SUFFIXES, 0, 5)})"),
    "Continent": _simple(CONTINENTS),
    "Country": _simple(COUNTRIES),
    "CreditCardNum": _credit_card_num,
    "CreditCardType": _simple(CC_TYPES),
    "Currency": _simple(CURRENCIES),
    "CurrencyCode": _simple(CURRENCY_CODES),
    "Day": lambda ctx, a: _int_in(ctx, 1, 31),
    "Digits": lambda ctx, a: _digits(ctx, 5),
    "DigitsN": lambda ctx, a: _digits(ctx, min(max(_arg_int(a, 0), 0), 64)) if _arg_int(a, 0) > 0 else "''",
    "DomainName": lambda ctx, a: _domain(ctx),
    "DomainZone": _simple(DOMAIN_ZONES),
    "EmailAddress": lambda ctx, a: f"concat({_username(ctx)}, '@', {_domain(ctx)})",
    "EmailBody": lambda ctx, a: _sentences(ctx, 3),
    "EmailSubject": lambda ctx, a: f"concat({P.title_case(_word(ctx, 0))}, ' ', {_words(ctx, 3, start=1)})",
    "FemaleFirstName": _simple(FIRST_NAMES_FEMALE),
    "FemaleFullName": lambda ctx, a: _full_name(ctx, FIRST_NAMES_FEMALE),
    "FemaleFullNameWithPrefix": lambda ctx, a: (
        f"concat({ctx.pick_hashed(PREFIXES[1:3], 1, 1)}, ' ', {_full_name(ctx, FIRST_NAMES_FEMALE)})"),
    "FemaleFullNameWithSuffix": lambda ctx, a: (
        f"concat({_full_name(ctx, FIRST_NAMES_FEMALE)}, ' ', {ctx.pick_hashed(SUFFIXES, 1, 1)})"),
    "FemaleLastName": _simple(LAST_NAMES),
    "FemalePatronymic": _simple(PATRONYMICS_FEMALE),
    "FirstName": _simple(FIRST_NAMES),
    "FullName": lambda ctx, a: _full_name(ctx, FIRST_NAMES),
    "FullNameWithPrefix": lambda ctx, a: (
        f"concat({ctx.pick_hashed(PREFIXES, 1, 1)}, ' ', {_full_name(ctx, FIRST_NAMES)})"),
    "FullNameWithSuffix": lambda ctx, a: (
        f"concat({_full_name(ctx, FIRST_NAMES)}, ' ', {ctx.pick_hashed(SUFFIXES, 1, 1)})"),
    "Gender": _simple(["Male", "Female"]),
    "GenderAbbrev": _simple(["M", "F"]),
    "GetLangs": lambda ctx, a: s(" ".join(["en", "es", "fr", "de"])),
    "HexColor": lambda ctx, a: f"substr({ctx.h(0)}, 1, 6)",
    "HexColorShort": lambda ctx, a: f"substr({ctx.h(0)}, 1, 3)",
    "IPv4": _ipv4,
    "IPv6": _ipv6,
    "Industry": _simple(INDUSTRIES),
    "JobTitle": _simple(JOB_TITLES),
    "Language": _simple(LANGUAGES),
    "LastName": _simple(LAST_NAMES),
    "Latitude": lambda ctx, a: P.fixed6(_micro_range(ctx, 180_000_000, -90_000_000)),
    "LatitudeDegrees": lambda ctx, a: _int_in(ctx, -90, 90),
    "LatitudeDirection": _simple(["N", "S"]),
    "LatitudeMinutes": lambda ctx, a: _int_in(ctx, 0, 59),
    "LatitudeSeconds": lambda ctx, a: _int_in(ctx, 0, 59),
    "Longitude": lambda ctx, a: P.fixed6(_micro_range(ctx, 360_000_000, -180_000_000)),
    "LongitudeDegrees": lambda ctx, a: _int_in(ctx, -180, 180),
    "LongitudeDirection": _simple(["E", "W"]),
    "LongitudeMinutes": lambda ctx, a: _int_in(ctx, 0, 59),
    "LongitudeSeconds": lambda ctx, a: _int_in(ctx, 0, 59),
    "MaleFirstName": _simple(FIRST_NAMES_MALE),
    "MaleFullName": lambda ctx, a: _full_name(ctx, FIRST_NAMES_MALE),
    "MaleFullNameWithPrefix": lambda ctx, a: (
        f"concat('Mr.', ' ', {_full_name(ctx, FIRST_NAMES_MALE)})"),
    "MaleFullNameWithSuffix": lambda ctx, a: (
        f"concat({_full_name(ctx, FIRST_NAMES_MALE)}, ' ', {ctx.pick_hashed(SUFFIXES, 1, 1)})"),
    "MaleLastName": _simple(LAST_NAMES),
    "MalePatronymic": _simple(PATRONYMICS_MALE),
    "Model": _simple(MODELS),
    "Month": _simple(MONTHS),
    "MonthNum": lambda ctx, a: _int_in(ctx, 1, 12),
    "MonthShort": _simple(MONTHS_SHORT),
    "Paragraph": lambda ctx, a: _sentences(ctx, 3),
    "Paragraphs": lambda ctx, a: _paragraphs(ctx, 2),
    "ParagraphsN": lambda ctx, a: _paragraphs(ctx, min(max(_arg_int(a, 0), 0), 8)) if _arg_int(a, 0) > 0 else "''",
    "Password": lambda ctx, a: _password(ctx, _arg_int(a, 0), _arg_int(a, 1),
                                         _arg_bool(a, 2), _arg_bool(a, 3), _arg_bool(a, 4)),
    "Patronymic": _simple(PATRONYMICS_MALE + PATRONYMICS_FEMALE),
    "Phone": lambda ctx, a: f"concat({_digits(ctx, 3)}, '-', {_digits(ctx, 3, stream=1)}, '-', {_digits(ctx, 4, stream=2)})",
    "Product": lambda ctx, a: (
        f"concat({ctx.pick_hashed(BRANDS, 0, 1)}, ' ', "
        f"{ctx.pick_hashed(PRODUCTS, 0, 5)})"),
    "ProductName": _simple(PRODUCTS),
    "Sentence": lambda ctx, a: _sentence(ctx),
    "Sentences": lambda ctx, a: _sentences(ctx, 3),
    "SentencesN": lambda ctx, a: _sentences(ctx, min(max(_arg_int(a, 0), 0), 12)) if _arg_int(a, 0) > 0 else "''",
    "SimplePassword": lambda ctx, a: f"concat({_chars(ctx, 6, stream=3)}, {_digits(ctx, 2, stream=6)})",
    "State": _simple(STATES),
    "StateAbbrev": _simple(STATE_ABBREVS),
    "Street": _simple(STREETS),
    "StreetAddress": lambda ctx, a: (
        f"concat({P.int_str(ctx.hex_mod(1, 1, 3, 999, offset=1))}, ' ', "
        f"{ctx.pick_hashed(STREETS, 0, 1)})"),
    "Title": _simple(TITLES_WORK),
    "TopLevelDomain": _simple(DOMAIN_ZONES),
    "UserAgent": _simple(USER_AGENTS),
    "UserName": lambda ctx, a: _username(ctx),
    "WeekDay": _simple(WEEKDAYS),
    "WeekDayShort": _simple(WEEKDAYS_SHORT),
    "WeekdayNum": lambda ctx, a: _int_in(ctx, 0, 6),
    "Word": lambda ctx, a: _word(ctx, 0),
    "Words": lambda ctx, a: _words(ctx, 3),
    "WordsN": lambda ctx, a: _words(ctx, min(max(_arg_int(a, 0), 0), 32)) if _arg_int(a, 0) > 0 else "''",
    "Year": _year,
    "Zip": lambda ctx, a: _digits(ctx, 5),
}

FAKER_NAMES = sorted(_REGISTRY)

# EmailAddress/UserName get the uniqueness salt (reference: anonymiser.go:94-102).
_SALTED = {"EmailAddress", "UserName"}

# ---------------------------------------------------------------------------
# Locale wordpacks — overrides for the locale-sensitive fakers; everything
# not overridden (usernames, emails, lorem, tech strings) stays ASCII/en.
# Compiled through the same CASE machinery, so locale output keeps exact
# Spark/DuckDB value parity (UTF-8 string literals are portable SQL).
# ---------------------------------------------------------------------------

_LOCALE_PACKS: dict[str, dict[str, list[str]]] = {
    "de": {
        "first_male": ["Lukas", "Finn", "Jonas", "Leon", "Paul", "Felix",
                       "Maximilian", "Moritz", "Elias", "Noah", "Ben", "Jan"],
        "first_female": ["Anna", "Lena", "Marie", "Laura", "Julia", "Sophie",
                         "Hannah", "Emma", "Mia", "Lea", "Clara", "Ida"],
        "last": ["Müller", "Schmidt", "Schneider", "Fischer", "Weber",
                 "Meyer", "Wagner", "Becker", "Schulz", "Hoffmann",
                 "Koch", "Bauer"],
        "cities": ["Grünstadt", "Neudorf", "Waldheim", "Seefeld",
                   "Bergheim", "Lindenthal", "Rosenau", "Steinbach",
                   "Birkenfeld", "Eichenau", "Tannenberg", "Wiesental"],
        "streets": ["Hauptstraße", "Bahnhofstraße", "Gartenweg",
                    "Lindenallee", "Schulstraße", "Dorfstraße",
                    "Bergweg", "Kirchgasse", "Am Markt", "Waldweg",
                    "Rosenweg", "Mühlenstraße"],
        "months": ["Januar", "Februar", "März", "April", "Mai", "Juni",
                   "Juli", "August", "September", "Oktober", "November",
                   "Dezember"],
        "months_short": ["Jan", "Feb", "Mär", "Apr", "Mai", "Jun", "Jul",
                         "Aug", "Sep", "Okt", "Nov", "Dez"],
        "weekdays": ["Montag", "Dienstag", "Mittwoch", "Donnerstag",
                     "Freitag", "Samstag", "Sonntag"],
        "weekdays_short": ["Mo", "Di", "Mi", "Do", "Fr", "Sa", "So"],
    },
    "fr": {
        "first_male": ["Jean", "Pierre", "Michel", "Louis", "Nicolas",
                       "Antoine", "Hugo", "Lucas", "Paul", "Thomas",
                       "Julien", "Mathis"],
        "first_female": ["Marie", "Camille", "Léa", "Chloé", "Manon",
                         "Sophie", "Emma", "Julie", "Inès", "Jeanne",
                         "Louise", "Alice"],
        "last": ["Martin", "Bernard", "Dubois", "Thomas", "Robert",
                 "Richard", "Petit", "Durand", "Leroy", "Moreau",
                 "Simon", "Laurent"],
        "cities": ["Villeneuve", "Beaumont", "Montclair", "Rochefort",
                   "Clairvaux", "Fontenay", "Valbonne", "Saint-Aubin",
                   "Belleville", "Champfleury", "Verneuil", "Aubigny"],
        "streets": ["Rue de la Paix", "Avenue des Champs", "Rue Victor Hugo",
                    "Boulevard Saint-Michel", "Rue de l'Église",
                    "Place du Marché", "Rue des Lilas", "Chemin Vert",
                    "Rue de la Gare", "Impasse des Roses",
                    "Avenue de la République", "Rue du Moulin"],
        "months": ["janvier", "février", "mars", "avril", "mai", "juin",
                   "juillet", "août", "septembre", "octobre", "novembre",
                   "décembre"],
        "months_short": ["janv", "févr", "mars", "avr", "mai", "juin",
                         "juil", "août", "sept", "oct", "nov", "déc"],
        "weekdays": ["lundi", "mardi", "mercredi", "jeudi", "vendredi",
                     "samedi", "dimanche"],
        "weekdays_short": ["lun", "mar", "mer", "jeu", "ven", "sam", "dim"],
    },
}

FAKER_LOCALES = ("en",) + tuple(sorted(_LOCALE_PACKS))


def _pack_registry(pk: dict[str, list[str]]) -> dict:
    fm, ff, ln = pk["first_male"], pk["first_female"], pk["last"]
    return {
        "FirstName": _simple(fm + ff),
        "MaleFirstName": _simple(fm),
        "FemaleFirstName": _simple(ff),
        "LastName": _simple(ln),
        "MaleLastName": _simple(ln),
        "FemaleLastName": _simple(ln),
        "FullName": lambda ctx, a: _full_name(ctx, fm + ff, ln),
        "MaleFullName": lambda ctx, a: _full_name(ctx, fm, ln),
        "FemaleFullName": lambda ctx, a: _full_name(ctx, ff, ln),
        "City": _simple(pk["cities"]),
        "Street": _simple(pk["streets"]),
        "StreetAddress": lambda ctx, a: (
            f"concat({P.int_str(ctx.hex_mod(1, 1, 3, 999, offset=1))}, "
            f"' ', {ctx.pick_hashed(pk['streets'], 0, 1)})"),
        "Month": _simple(pk["months"]),
        "MonthShort": _simple(pk["months_short"]),
        "WeekDay": _simple(pk["weekdays"]),
        "WeekDayShort": _simple(pk["weekdays_short"]),
    }


_LOCALE_REGISTRIES: dict[str, dict] = {}


def _registry_for(locale: str) -> dict:
    if locale in ("", "en"):
        return _REGISTRY
    if locale not in _LOCALE_PACKS:
        raise ValueError(f"unknown anonymiser locale {locale!r} "
                         f"(have {', '.join(FAKER_LOCALES)})")
    if locale not in _LOCALE_REGISTRIES:
        _LOCALE_REGISTRIES[locale] = {
            **_REGISTRY, **_pack_registry(_LOCALE_PACKS[locale])}
    return _LOCALE_REGISTRIES[locale]


# ---------------------------------------------------------------------------
# Cast policy — what a faker's output parses as, for 'keep source type'
# ---------------------------------------------------------------------------

# Output kinds: 'int' (integer text), 'float' (decimal text), 'digits'
# (digit runs, may lead with 0 or exceed int32), everything else 'text'.
_INT_FAKERS = {"Day", "MonthNum", "WeekdayNum", "Year", "LatitudeDegrees",
               "LatitudeMinutes", "LatitudeSeconds", "LongitudeDegrees",
               "LongitudeMinutes", "LongitudeSeconds"}
_FLOAT_FAKERS = {"Latitude", "Longitude"}
# FormatPreserve masks shape-preservingly, so a numeric source value
# ('1234.56') masks to numeric-parsable text — numeric kinds accept it.
_DIGIT_FAKERS = {"Digits", "DigitsN", "Zip", "CreditCardNum",
                 "FormatPreserve", "FormatPreserveLuhn"}

_NUMERIC_OK = {"int": {"int", "digits"},
               "bigint": {"int", "digits"},
               "smallint": {"int", "digits"},
               "tinyint": {"int"},
               "float": {"int", "float", "digits"},
               "double": {"int", "float", "digits"}}


def output_kind(spec: str) -> str:
    if spec.startswith(LITERAL_PREFIX):
        return "literal"
    name, _ = parse_spec(spec)
    if name in _INT_FAKERS:
        return "int"
    if name in _FLOAT_FAKERS:
        return "float"
    if name in _DIGIT_FAKERS:
        return "digits"
    return "text"


def keep_type_sql(spec: str, expr_sql: str, spark_type: str,
                  context: str = "") -> str:
    """Wrap a compiled anonymise expression so it keeps the source column's
    type (cast policy 'keep'). The cast text is portable: Spark and DuckDB
    share INTEGER/BIGINT/DOUBLE/DECIMAL(p,s) spellings. A faker whose
    output can never parse into the source type fails HERE, at plan time —
    not as a runtime cast error halfway through a 100 TB job."""
    t = spark_type.lower()
    if t in ("string", "varchar"):
        return expr_sql
    kind = output_kind(spec)
    where = f" for {context}" if context else ""
    if t in _NUMERIC_OK or t.startswith("decimal"):
        allowed = (_NUMERIC_OK.get(t, {"int", "float", "digits"})
                   | {"literal"})
        if kind not in allowed:
            raise ValueError(
                f"cast policy 'keep': {spec!r} emits {kind} text, which "
                f"cannot parse as source type {spark_type}{where} — use a "
                "numeric faker or cast policy 'string'")
        sql_type = {"int": "INTEGER", "bigint": "BIGINT",
                    "smallint": "SMALLINT", "tinyint": "TINYINT",
                    "float": "FLOAT", "double": "DOUBLE"}.get(t, spark_type)
        return f"cast(({expr_sql}) as {sql_type})"
    if kind == "literal":
        # the user supplies the text; let the engines parse it (dates etc.)
        return f"cast(({expr_sql}) as {spark_type})"
    raise ValueError(
        f"cast policy 'keep': no faker emits {spark_type}{where} — use "
        "literal:<value> or cast policy 'string'")


def parse_spec(spec: str) -> tuple[str, list[str]]:
    """Split 'Type:a:b' colon syntax (reference: anonymiser.go:122-136).
    Non-arg fakers ignore anything after ':' like the reference does."""
    parts = spec.split(":")
    name = parts[0]
    return name, (parts[1:] if name in REQUIRE_ARGS else [])


def validate_spec(spec: str, context: str = "") -> None:
    """Plan-time strict validation — unknown faker names raise (divergence
    from the reference's runtime poison value, anonymiser.go:84-91)."""
    if spec.startswith(LITERAL_PREFIX):
        return
    name, _ = parse_spec(spec)
    if name not in _REGISTRY:
        raise ValueError(f"unknown anonymiser {name!r}"
                         + (f" for {context}" if context else ""))


import re as _re

_IDENT_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def anonymise_sql(spec: str, column: str, table: str = "",
                  seed: str = DEFAULT_SEED, locale: str = "en") -> str:
    """Compile an anonymiser spec to a portable SQL expression over ``column``.

    The expression is valid, and value-identical, in Spark SQL and DuckDB.
    Deterministic: output = f(seed, table.column, source value); NULL source
    values anonymise too (the reference replaces unconditionally,
    anonymiser.go:77-108).

    ``column`` must be a plain identifier: the expression text is shared
    verbatim between engines whose identifier-quoting characters are
    incompatible (backtick vs double-quote), so quoting cannot be portable —
    exotic names fail HERE, at plan time, not silently inside an engine.

    Determinism-key portability bound: the key is ``cast(col as string)``.
    For FLOAT/DOUBLE source columns the two engines render shortest-digit
    strings with different scientific-notation cutoffs, so cross-engine
    value parity (the DuckDB oracle) holds for |x| < 1e7; Spark-side
    determinism is unaffected at any magnitude. (No portable exact
    rendering exists: decimal casts go through float scaling in DuckDB,
    and printf('%f') pads shortest digits in Java but prints the exact
    binary expansion in fmt — both measured diverging.) Anonymise
    integer/decimal/string keys, or pre-round floats, where the oracle
    must stay exact above that bound."""
    return _compile(spec, column, table, seed, locale, "portable")


def _compile(spec: str, column: str, table: str, seed: str, locale: str,
             dialect: str) -> str:
    if spec.startswith(LITERAL_PREFIX):
        return s(spec[len(LITERAL_PREFIX):])
    registry = _registry_for(locale)
    name, args = parse_spec(spec)
    if name not in registry:
        raise ValueError(f"unknown anonymiser {name!r}")
    if not _IDENT_RE.match(column):
        raise ValueError(
            f"anonymise column {column!r} is not a plain identifier; "
            "portable SQL cannot quote it identically in both engines — "
            "rename/alias the column before anonymising")
    ctx = _new_ctx(column, table, seed, dialect)
    expr = registry[name](ctx, args)
    if name in _SALTED:
        expr = f"concat({expr}, {_salt4(ctx)})"
    return expr


def anonymise_expr(spec: str, column: str, table: str = "",
                   seed: str = DEFAULT_SEED, locale: str = "en"):
    """Spark Column for an anonymiser spec (built-ins only, codegen-friendly)."""
    from pyspark.sql import functions as F
    return F.expr(anonymise_sql(spec, column, table=table, seed=seed,
                                locale=locale))


# streams scanned by the factoring pass; every faker stays well below this
_FACTOR_MAX_STREAM = 64


def _namer(avoid: set[str] | None):
    """Helper-column name allocator: a base name, suffixed with '_' until
    it collides with nothing in ``avoid`` or already handed out."""
    taken = set(avoid or ())

    def _name(base: str) -> str:
        name = base
        while name in taken:
            name += "_"
        taken.add(name)
        return name
    return _name


def anonymise_factored(spec: str, column: str, table: str = "",
                       seed: str = DEFAULT_SEED, locale: str = "en",
                       prefix: str = "_ks_anon",
                       avoid: set[str] | None = None
                       ) -> tuple[str, dict[str, str]]:
    """The Spark execution twin of :func:`anonymise_sql`, split into
    (expression, helper columns) by textual common-subexpression
    factoring.

    The expression is the registry builder's Spark dialect (byte-view
    hash draws, array word picks; see :class:`_Ctx`). Every hash stream
    it reads more than once — as its byte view, or else as its md5 hex —
    and the raw-value text are hoisted out as helper ``<prefix>_h<n>`` /
    ``<prefix>_raw`` and referenced by column name, so each md5 is
    computed ONCE per row and the expression stays codegen-sized (the
    position-keyed fakers read each stream up to ~16x, which inline blows
    past janino's 64KB method limit). Values, types and nullability are
    identical to the inline text (pytest-pinned); the DuckDB oracle keeps
    replaying that inline text.

    Returns ``(expr_sql, helpers)``: evaluate each ``helpers[name]``
    as a column ``name`` over the SOURCE row (before replacing
    ``column``), then evaluate ``expr_sql``. ``avoid`` lists column
    names the helper names must not collide with."""
    full = _compile(spec, column, table, seed, locale, "spark")
    ctx = _new_ctx(column, table, seed, "spark")
    name = _namer(avoid)
    helpers: dict[str, str] = {}
    candidates = []
    for n in range(_FACTOR_MAX_STREAM):
        # the byte view first: its text contains the stream's md5 text
        candidates += [(f"{prefix}_h{n}", ctx.view(n)),
                       (f"{prefix}_h{n}", ctx.h(n))]
    candidates.append((f"{prefix}_raw", ctx.raw_sql))
    for base, text in candidates:
        if full.count(text) >= 2:
            nm = name(base)
            full = full.replace(text, nm)
            helpers[nm] = text
    return full, helpers


# ---------------------------------------------------------------------------
# Spark execution twins
# ---------------------------------------------------------------------------
# The DuckDB oracle replays the portable inline text, so that text never
# changes; the Spark side runs a twin that returns the same values, types
# and nullability from cheaper kernels:
#
# - hash draws: a 2-hex-char draw reads one byte of the stream's latin-1
#   byte view (``ascii(substr(view, k, 1))``) instead of an
#   ``instr('0123456789abcdef', substr(md5, p, 1))`` walk per hex char,
#   and a run of keyed digits is one
#   ``translate(substr(md5, 1, n), 'abcdef', '012345')`` (hex char % 10);
# - word picks: ``try_element_at(array(items...), idx + 1)`` instead of
#   ``rtrim(substr('<space-padded packed literal>', ...))``;
# - FormatPreserve / FormatPreserveLuhn: instead of 40 expanded CASE
#   positions over all 13 md5 streams, one helper column per row holds
#   every keyed candidate character, computing only the streams the value
#   reads, and a one-``substr`` ``transform`` lambda picks per position.
#
# The first two are :class:`_Ctx`'s Spark dialect, so every registry
# builder emits both texts; the third is :func:`_fpe_keys` plus
# :func:`anonymise_spark_factored`. tests/test_anonymise.py pins the
# twins to the inline text over every faker and locale, and pins the
# inline text itself by digest.

# the class of each of the first _FPE_MAX source chars: '0' digit,
# '1' uppercase, '2' lowercase; any other char keeps itself
_FPE_CLASS_SRC = "0123456789" + CHARS.upper() + CHARS
_FPE_CLASS_DST = "0" * 10 + "1" * 26 + "2" * 26
# one digest byte b -> the letter a 2-hex-char % 26 pick would choose
_BYTES = "".join(chr(b) for b in range(256))
_UPPER_OF_BYTE = "".join(CHARS.upper()[b % 26] for b in range(256))
_LOWER_OF_BYTE = "".join(CHARS[b % 26] for b in range(256))


def _fpe_keys(ctx: _Ctx, luhn: bool = False) -> str:
    """Per-row keyed-candidate string of the FormatPreserve twin: five
    (for Luhn, six) 40-char segments, where positions 1..40 of segment

    1. C: the class of each source char (``_FPE_CLASS_DST``, else itself)
    2. the source chars (raw40)
    3. D: the masked digit — hex char % 10 of streams 10..12, i.e.
       ``translate(md5, 'abcdef', '012345')``
    4. U: the masked uppercase letter — byte % 26 of streams 14..18
    5. L: the masked lowercase letter — byte % 26 of streams 20..24
    6. (Luhn only) D doubled with 2d-9 folding, for the checksum

    are exactly what :func:`_format_preserve` computes for that position.
    A stream is computed only when the value reads it: digit stream
    10+k when a digit sits in positions 16k+1..16k+16, letter streams
    when such a letter sits in that stream's 8 positions; an unread
    stream's slot holds filler no position selects."""
    raw40 = f"substr({ctx.raw_sql}, 1, {_FPE_MAX})"
    cls = f"translate({raw40}, {s(_FPE_CLASS_SRC)}, {s(_FPE_CLASS_DST)})"

    def seg(cls_ch: str, first: int, per: int, keyed) -> str:
        parts = []
        for k, lo in enumerate(range(0, _FPE_MAX, per)):
            w = min(per, _FPE_MAX - lo)
            parts.append(
                f"case when instr(substr({cls}, {lo + 1}, {w}), "
                f"'{cls_ch}') > 0 then {keyed(first + k, w)} "
                f"else {s(cls_ch * w)} end")
        return f"concat({', '.join(parts)})"

    digits = seg("0", 10, 16, lambda n, w: (
        f"translate(substr({ctx.h(n)}, 1, {w}), 'abcdef', '012345')"))
    upper = seg("1", 14, 8, lambda n, w: (
        f"translate(substr({ctx.view(n)}, 1, {w}), {s(_BYTES)}, "
        f"{s(_UPPER_OF_BYTE)})"))
    lower = seg("2", 20, 8, lambda n, w: (
        f"translate(substr({ctx.view(n)}, 1, {w}), {s(_BYTES)}, "
        f"{s(_LOWER_OF_BYTE)})"))
    segs = [f"rpad({cls}, {_FPE_MAX}, ' ')", f"rpad({raw40}, {_FPE_MAX}, ' ')",
            digits, upper, lower]
    if luhn:
        segs.append(f"translate({digits}, '0123456789', '0246813579')")
    return f"concat({', '.join(segs)})"


def _format_preserve_twin(raw: str, keys: str) -> str:
    """Spark twin of :func:`_format_preserve` over the ``raw`` and
    :func:`_fpe_keys` helper columns: position i emits the char of
    segment 2 + (its class), read by one substr.

    The empty value's '' is spelled ``substr(keys, 1, 0)``: the inline
    text's type is nullable (through ``%``), and so is the keys column
    (through ``decode``), while a literal '' branch would make this twin
    non-nullable and change the written schema."""
    m = _FPE_MAX
    lam = (f"i -> substr({keys}, "
           f"{m} + i + {m} * instr('012', substr({keys}, i, 1)), 1)")
    head = (f"case when length({raw}) = 0 then substr({keys}, 1, 0) else "
            f"array_join(transform(sequence(1, least(length({raw}), {m})), "
            f"{lam}), '') end")
    tail = (f"coalesce(translate(substr({raw}, {m + 1}), "
            f"{s(_FPE_SRC)}, {s(_FPE_DST)}), '')")
    return f"concat({head}, {tail})"


def _format_preserve_luhn_twin(raw: str, keys: str) -> str:
    """Spark twin of :func:`_format_preserve_luhn`: the payload is the
    first n-1 masked digits (segment 3), the check digit one `aggregate`
    over plain (segment 3) or doubled (segment 6) digits; other shapes
    fall back to :func:`_format_preserve_twin`."""
    m = _FPE_MAX
    n = f"length({raw})"
    digit = (f"cast(substr({keys}, case when ({n} - i) % 2 = 1 "
             f"then {5 * m} else {2 * m} end + i, 1) as int)")
    total = (f"aggregate(sequence(1, {n} - 1), 0, "
             f"(acc, i) -> acc + {digit})")
    check = f"((10 - ({total} % 10)) % 10)"
    is_card = f"({raw} rlike '^[0-9]{{2,{_LUHN_MAX}}}$')"
    return (f"case when {is_card} then concat(substr({keys}, {2 * m + 1}, "
            f"{n} - 1), cast({check} as string)) "
            f"else {_format_preserve_twin(raw, keys)} end")


def anonymise_spark_factored(spec: str, column: str, table: str = "",
                             seed: str = DEFAULT_SEED, locale: str = "en",
                             prefix: str = "_ks_anon",
                             avoid: set[str] | None = None
                             ) -> tuple[str, dict[str, str]]:
    """The Spark twin the engine runs: :func:`anonymise_factored`, except
    for FormatPreserve / FormatPreserveLuhn, which compile to the keyed-
    candidate form instead of their 40-way expanded CASE — helpers
    ``<prefix>_raw`` (the source text) and ``<prefix>_fk``
    (:func:`_fpe_keys`, computing only the md5 streams the value reads),
    then one `transform` lambda of a single ``substr`` per position.
    The portable inline text remains the oracle; the twin is value-,
    type- and nullability-identical (pinned by
    tests/test_anonymise.py::test_twin_parity_sweep)."""
    name, _args = parse_spec(spec)
    if name not in ("FormatPreserve", "FormatPreserveLuhn"):
        return anonymise_factored(spec, column, table=table, seed=seed,
                                  locale=locale, prefix=prefix, avoid=avoid)
    ctx = _new_ctx(column, table, seed, "spark")
    new_name = _namer(avoid)
    raw, keys = new_name(f"{prefix}_raw"), new_name(f"{prefix}_fk")
    luhn = name == "FormatPreserveLuhn"
    helpers = {raw: ctx.raw_sql, keys: _fpe_keys(ctx, luhn=luhn)}
    if luhn:
        return _format_preserve_luhn_twin(raw, keys), helpers
    return _format_preserve_twin(raw, keys), helpers
