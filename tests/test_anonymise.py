"""Anonymiser registry tests — mirrors the reference's anonymiser scenarios
(reference: pkg/anonymiser/anonymiser_test.go:19-95) plus cross-engine
value parity, which is this engine's oracle-correctness foundation."""

import re

import pytest

from klepto_spark.functions.anonymise import (
    FAKER_NAMES,
    anonymise_sql,
    parse_spec,
    validate_spec,
)

SRC = ("(SELECT * FROM (VALUES ('alice@x.com'), ('bob@y.org'), "
       "(CAST(NULL AS STRING))) AS v(email))")

ARG_SPECS = {
    "CharactersN": "CharactersN:6", "DigitsN": "DigitsN:5",
    "ParagraphsN": "ParagraphsN:2", "SentencesN": "SentencesN:2",
    "WordsN": "WordsN:3", "CreditCardNum": "CreditCardNum:amex",
    "Password": "Password:8:12:true:true:false", "Year": "Year:1990:2020",
}


def test_registry_covers_reference_surface():
    # every name in the reference's generated table
    # (reference: pkg/anonymiser/fake.go:11-102) plus the
    # FormatPreserve / FormatPreserveLuhn extensions
    assert len(FAKER_NAMES) == 92
    for required in ["EmailAddress", "UserName", "Latitude", "Longitude",
                     "FirstName", "CreditCardNum", "Password", "Year",
                     "UserAgent", "GetLangs"]:
        assert required in FAKER_NAMES


def test_parse_spec_colon_args():
    assert parse_spec("DigitsN:5") == ("DigitsN", ["5"])
    assert parse_spec("Password:8:12:true:true:false") == \
        ("Password", ["8", "12", "true", "true", "false"])
    # non-arg fakers ignore colon suffixes like the reference
    assert parse_spec("FirstName:junk") == ("FirstName", [])


def test_validate_strict():
    validate_spec("EmailAddress")
    validate_spec("literal:anything")
    with pytest.raises(ValueError):
        validate_spec("NotAFaker")


def test_literal():
    assert anonymise_sql("literal:1234", "password") == "'1234'"
    assert anonymise_sql("literal:it's", "c") == "'it''s'"


def test_non_identifier_column_raises_at_plan_time():
    # portable SQL cannot quote identifiers identically in both engines;
    # exotic names must fail loudly, not splice broken SQL
    with pytest.raises(ValueError, match="not a plain identifier"):
        anonymise_sql("FirstName", "weird name")
    with pytest.raises(ValueError, match="not a plain identifier"):
        anonymise_sql("FirstName", "a;drop")
    # literals never reference the source column, any target name is fine
    assert anonymise_sql("literal:x", "weird name") == "'x'"


def test_missing_args_fall_back_to_zero_values():
    # reference parseArgs pads with zero values (anonymiser.go:138-164)
    assert anonymise_sql("DigitsN", "c") == "''"
    assert anonymise_sql("CharactersN:bogus", "c") == "''"


@pytest.mark.parametrize("name", FAKER_NAMES)
def test_every_faker_runs_in_duckdb(duck, name):
    sql = anonymise_sql(ARG_SPECS.get(name, name), "email", table="users")
    rows = duck.execute(f"SELECT ({sql}) FROM {SRC} AS t").fetchall()
    assert len(rows) == 3
    for (v,) in rows:
        assert isinstance(v, str)
        # FormatPreserve variants keep the source's shape, so NULL -> ''
        if not name.startswith("FormatPreserve"):
            assert v != ""  # non-empty for every input, NULL included


def test_determinism_and_keying(duck):
    sql = anonymise_sql("EmailAddress", "email", table="users")
    a = duck.execute(f"SELECT ({sql}) FROM {SRC} t").fetchall()
    b = duck.execute(f"SELECT ({sql}) FROM {SRC} t").fetchall()
    assert a == b  # same seed -> same output
    other = anonymise_sql("EmailAddress", "email", table="users", seed="x")
    c = duck.execute(f"SELECT ({other}) FROM {SRC} t").fetchall()
    assert a != c  # different seed -> different output
    assert len({r[0] for r in a}) == 3  # distinct inputs -> distinct fakes


def test_salt_format(duck):
    # '.<4 hex>' suffix on EmailAddress/UserName (anonymiser.go:94-102)
    for spec in ["EmailAddress", "UserName"]:
        sql = anonymise_sql(spec, "email", table="users")
        v = duck.execute(f"SELECT ({sql}) FROM {SRC} t LIMIT 1").fetchone()[0]
        assert re.search(r"\.[0-9a-f]{4}$", v), v


def test_latitude_longitude_format(duck):
    # '%f'-style 6-decimal strings in range (anonymiser.go:103-104)
    for spec, lo, hi in [("Latitude", -90, 90), ("Longitude", -180, 180)]:
        sql = anonymise_sql(spec, "email")
        for (v,) in duck.execute(f"SELECT ({sql}) FROM {SRC} t").fetchall():
            assert re.fullmatch(r"-?\d+\.\d{6}", v), v
            assert lo <= float(v) <= hi


def test_year_range(duck):
    sql = anonymise_sql("Year:1990:2020", "email")
    for (v,) in duck.execute(f"SELECT ({sql}) FROM {SRC} t").fetchall():
        assert 1990 <= int(v) <= 2020


def test_credit_card_vendor_prefixes(duck):
    for vendor, prefix, length in [("visa", "4", 16), ("amex", "34", 15),
                                   ("mastercard", "5", 16)]:
        sql = anonymise_sql(f"CreditCardNum:{vendor}", "email")
        v = duck.execute(f"SELECT ({sql}) FROM {SRC} t LIMIT 1").fetchone()[0]
        assert v.startswith(prefix) and len(v) == length, v


@pytest.mark.slow
def test_spark_duckdb_value_parity(spark, duck):
    """THE core invariant: the same expression yields identical values in
    Spark and DuckDB. Sampled subset here (full sweep in CI-style runs is
    scripts/parity_sweep.py); each faker family is represented."""
    sample = ["EmailAddress", "UserName", "FirstName", "FullNameWithPrefix",
              "Latitude", "Longitude", "IPv4", "IPv6", "Phone", "Zip",
              "StreetAddress", "Company", "Paragraph", "Sentence", "Word",
              "HexColor", "DigitsN:7", "CharactersN:9", "WordsN:4",
              "Password:8:12:true:true:true", "Year:1990:2020",
              "CreditCardNum:visa", "UserAgent", "Month", "Country"]
    sel = ", ".join(
        f"({anonymise_sql(sp, 'email', table='users')}) AS f{i}"
        for i, sp in enumerate(sample))
    q = f"SELECT {sel} FROM {SRC} AS t ORDER BY coalesce(email, 'zzz')"
    srows = [tuple(r) for r in spark.sql(q).collect()]
    drows = [tuple(r) for r in duck.execute(q).fetchall()]
    assert srows == drows


def test_locale_wordpacks(duck):
    """Locale packs swap the locale-sensitive lists; everything else
    (usernames, lorem, tech strings) stays en/ASCII."""
    from klepto_spark.functions.anonymise import _LOCALE_PACKS, FAKER_LOCALES
    assert FAKER_LOCALES == ("en", "de", "fr")
    sql_de = anonymise_sql("FullName", "email", locale="de")
    assert sql_de != anonymise_sql("FullName", "email")
    v = duck.execute(
        f"SELECT ({sql_de}) FROM (VALUES ('alice@x.com')) AS v(email)"
    ).fetchone()[0]
    first, last = v.split(" ", 1)
    pk = _LOCALE_PACKS["de"]
    assert first in pk["first_male"] + pk["first_female"]
    assert last in pk["last"]
    with pytest.raises(ValueError, match="unknown anonymiser locale"):
        anonymise_sql("FullName", "email", locale="xx")


def test_locale_parity_spark_duckdb(spark, duck):
    """UTF-8 wordpack literals (Müller, août) must stay value-identical
    across engines — the oracle invariant extended to locales."""
    for loc in ("de", "fr"):
        sel = ", ".join(
            f"({anonymise_sql(n, 'email', table='users', locale=loc)}) AS f{i}"
            for i, n in enumerate(
                ["FullName", "City", "Month", "StreetAddress", "WeekDay"]))
        q = (f"SELECT {sel} FROM {SRC} AS t "
             "ORDER BY coalesce(email, 'zzz')")
        srows = [tuple(r) for r in spark.sql(q).collect()]
        drows = [tuple(r) for r in duck.execute(q).fetchall()]
        assert srows == drows, loc


def test_cast_policy_keep_types_and_plan_time_errors(spark):
    """'keep' casts faked output back to the source type; a faker that can
    never parse into the type fails at plan time, not mid-job."""
    from klepto_spark.config import TableSpec
    from klepto_spark.operators.pipeline import build_table_df
    df = spark.createDataFrame([(7, 12.5, "Bob"), (8, -3.25, "Eve")],
                               "id int, lat double, name string")
    keep = TableSpec(name="t", cast_policy="keep",
                     anonymise={"id": "Zip", "lat": "Latitude",
                                "name": "FullName"})
    out = build_table_df(keep, lambda n: df)
    assert dict(out.dtypes) == {"id": "int", "lat": "double",
                                "name": "string"}
    rows = out.collect()
    assert all(isinstance(r.lat, float) and -90 <= r.lat <= 90 for r in rows)
    assert all(isinstance(r.id, int) for r in rows)
    # default policy turns the same columns into strings
    as_str = build_table_df(
        TableSpec(name="t", anonymise={"lat": "Latitude"}), lambda n: df)
    assert dict(as_str.dtypes)["lat"] == "string"
    # plan-time rejection: name-shaped text can't become an int
    with pytest.raises(ValueError, match="cast policy 'keep'"):
        build_table_df(TableSpec(name="t", cast_policy="keep",
                                 anonymise={"id": "FullName"}),
                       lambda n: df)
    with pytest.raises(ValueError, match="invalid cast_policy"):
        TableSpec(name="t", cast_policy="bogus")


def test_cast_policy_keep_duckdb_parity(spark, duck):
    """The cast wrap is portable SQL: Spark and DuckDB agree on the casted
    values (typed, not string, comparison)."""
    from klepto_spark.functions.anonymise import keep_type_sql
    lat = keep_type_sql("Latitude", anonymise_sql("Latitude", "email"),
                        "double")
    yr = keep_type_sql("Year:1990:2020",
                       anonymise_sql("Year:1990:2020", "email"), "int")
    q = (f"SELECT ({lat}) AS la, ({yr}) AS yr FROM {SRC} AS t "
         "ORDER BY coalesce(email, 'zzz')")
    srows = [tuple(r) for r in spark.sql(q).collect()]
    drows = [tuple(r) for r in duck.execute(q).fetchall()]
    assert srows == drows
    assert all(isinstance(r[0], float) and isinstance(r[1], int)
               for r in srows)


def test_format_preserve_keeps_shape(duck):
    """FormatPreserve: digits->digits, letters->letters with case,
    punctuation/space kept, length kept, per-value keyed, NULL -> ''."""
    sql = anonymise_sql("FormatPreserve", "email", table="users")
    src = ("(SELECT * FROM (VALUES ('Card 1234-5678 Ok!'), ('Card 1234-5678 Ok!'), "
           "('zz 99'), (CAST(NULL AS STRING))) AS v(email))")
    rows = [r[0] for r in duck.execute(
        f"SELECT ({sql}) FROM {src} AS t").fetchall()]
    a, a2, b, nul = rows
    assert a == a2  # deterministic
    assert nul == ""
    import re as _re
    assert len(a) == len("Card 1234-5678 Ok!")
    for src_ch, out_ch in zip("Card 1234-5678 Ok!", a):
        if src_ch.isdigit():
            assert out_ch.isdigit()
        elif src_ch.isupper():
            assert out_ch.isupper() and out_ch.isalpha()
        elif src_ch.islower():
            assert out_ch.islower() and out_ch.isalpha()
        else:
            assert out_ch == src_ch  # '-', ' ', '!'
    assert a != "Card 1234-5678 Ok!"  # actually masked
    assert _re.fullmatch(r"[a-z]{2} \d{2}", b)


def test_format_preserve_long_tail_and_parity(spark, duck):
    """Beyond the keyed prefix the tail is statically masked but shape
    and length survive; values agree across engines."""
    sql = anonymise_sql("FormatPreserve", "email")
    long_src = "A1b-" * 15  # 60 chars > keyed prefix of 40
    q = (f"SELECT ({sql}) AS x FROM (VALUES ('{long_src}'), ('n/a 77')) "
         "AS v(email) ORDER BY 1")
    srows = [r.x for r in spark.sql(q).collect()]
    drows = [r[0] for r in duck.execute(q).fetchall()]
    assert srows == drows
    masked = next(v for v in srows if len(v) == 60)
    for s_ch, o_ch in zip(long_src, masked):
        assert (s_ch.isdigit() == o_ch.isdigit()
                and s_ch.isalpha() == o_ch.isalpha()
                and (not s_ch.isalpha() or s_ch.isupper() == o_ch.isupper())
                and (s_ch.isalnum() or s_ch == o_ch))


def _luhn_ok(digits: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_format_preserve_luhn(duck):
    """Digits-only values mask to same-length Luhn-valid digits; shaped
    values fall back to plain FormatPreserve masking; NULL -> ''."""
    sql = anonymise_sql("FormatPreserveLuhn", "email", table="users")
    cards = ["4539578763621486", "6011000990139424", "355555555555", "42",
             "1234567890123456789"]
    src = ", ".join(f"('{c}')" for c in cards)
    rows = [r[0] for r in duck.execute(
        f"SELECT ({sql}) FROM (SELECT * FROM (VALUES {src}, "
        "('12-34'), ('9'), (CAST(NULL AS STRING))) AS v(email)) AS t"
    ).fetchall()]
    masked, dashed, single, nul = rows[:len(cards)], *rows[len(cards):]
    for srcv, out in zip(cards, masked):
        assert len(out) == len(srcv) and out.isdigit()
        assert _luhn_ok(out), (srcv, out)
    assert len(dashed) == 5 and dashed[2] == "-"  # fallback keeps shape
    assert single.isdigit() and len(single) == 1  # too short for a check digit
    assert nul == ""


def test_format_preserve_luhn_engine_parity(spark, duck):
    sql = anonymise_sql("FormatPreserveLuhn", "email")
    q = (f"SELECT ({sql}) AS x FROM (VALUES ('4539578763621486'), "
         "('n/a 77'), ('00123')) AS v(email) ORDER BY 1")
    srows = [r.x for r in spark.sql(q).collect()]
    drows = [r[0] for r in duck.execute(q).fetchall()]
    assert srows == drows


def test_format_preserve_numeric_keep_cast(spark):
    """digits-kind: a masked numeric value parses back into the source
    numeric type under cast policy 'keep'."""
    from klepto_spark.config import TableSpec
    from klepto_spark.operators.pipeline import build_table_df
    df = spark.createDataFrame([(1, 1234.56), (2, -78.9)],
                               "id int, bal double")
    out = build_table_df(
        TableSpec(name="t", cast_policy="keep",
                  anonymise={"bal": "FormatPreserve"}), lambda n: df)
    assert dict(out.dtypes)["bal"] == "double"
    vals = {r.id: r.bal for r in out.collect()}
    assert vals[2] < 0  # sign position survives masking
    assert all(v is not None for v in vals.values())


# Twin-parity corpus: every shape class the position-keyed and hashed
# fakers branch on — NULL, empty, ASCII, non-ASCII, a non-BMP char,
# lengths around the 40-char keyed prefix (39/40/41/45), digits-only at
# the Luhn bounds (2/19/20 chars), mixed case and separators.
TWIN_CORPUS = [
    None, "", "a", "Z", "9", "42", "Abc-123 x", "4556737586899855",
    "UPPER lower 987", "alice@x.com", "1234567890123456789",
    "12345678901234567890", "Customer#000000042", "12-34",
    "4111111111111111", "ü当ñ x9", "Grüße Zoë", "x😀Y 7 \U0001F600z",
    "x" * 39 + "9", "y" * 40, "A1b-" * 10 + "Z", "y" * 45, "0" * 19, "00",
    "25-989-741-2988", "tab\there, 'quoted' \\ back",
    "abcDEF123!@# spaces ümlaut 0123456789 ABCXYZ tail beyond "
    "forty chars 99",
]


def _corpus_df(spark):
    return spark.createDataFrame(list(enumerate(TWIN_CORPUS)),
                                 "id int, v string")


@pytest.mark.parametrize("spec", [
    "FormatPreserve", "FormatPreserveLuhn", "EmailAddress", "FullName",
    "Paragraph", "IPv4", "CreditCardNum:visa", "Password:8:2:2:2:false",
])
def test_anonymise_factored_matches_inline(spark, spec):
    """The factored execution twin (hash streams hoisted into helper
    columns) must be value-identical to the inline portable text the
    oracle replays — for every faker shape, including NULLs."""
    from klepto_spark.functions.anonymise import (
        anonymise_factored, anonymise_sql)
    df = _corpus_df(spark)
    inline = anonymise_sql(spec, "v", table="t")
    factored, helpers = anonymise_factored(spec, "v", table="t")
    want = {r.id: r.out for r in
            df.selectExpr("id", f"{inline} AS out").collect()}
    stage = df.selectExpr("id", "v",
                          *[f"{h} AS {n}" for n, h in helpers.items()])
    got = {r.id: r.out for r in
           stage.selectExpr("id", f"{factored} AS out").collect()}
    assert got == want


@pytest.mark.parametrize("spec", ["FormatPreserve", "FormatPreserveLuhn"])
def test_hof_twins_match_portable(spark, spec):
    """The keyed-candidate Spark twins of the position-keyed fakers (one
    `transform` lambda over the pre-projected candidate string, compiled
    by anonymise_spark_factored) must be value-identical to the inline
    portable text the oracle replays — across every shape class of
    TWIN_CORPUS: empty, NULL, pure digits at each Luhn boundary
    (2/19/20 chars), mixed case, separators, unicode passthrough, and
    >40-char tails."""
    from klepto_spark.functions.anonymise import (
        anonymise_spark_factored, anonymise_sql)
    df = _corpus_df(spark)
    inline = anonymise_sql(spec, "v", table="t")
    twin, helpers = anonymise_spark_factored(spec, "v", table="t")
    assert "transform(" in twin  # really the HOF path, not the fallback
    want = {r.id: r.out for r in
            df.selectExpr("id", f"{inline} AS out").collect()}
    stage = df.selectExpr("id", "v",
                          *[f"{h} AS {n}" for n, h in helpers.items()])
    got = {r.id: r.out for r in
           stage.selectExpr("id", f"{twin} AS out").collect()}
    assert got == want


def _sweep_specs():
    # every registry name, plus the args form of the parameterised ones
    # (the bare form exercises parseArgs' zero-value fallback)
    return [spec for n in FAKER_NAMES
            for spec in dict.fromkeys([n, ARG_SPECS.get(n, n)])]


@pytest.mark.parametrize("locale", ["en", "de", "fr"])
def test_twin_parity_sweep(spark, locale):
    """Every faker (args forms included) under every locale: the Spark
    twin the engine runs equals the inline portable text on value, and
    on the output field's type and nullability (a nullability drift
    would change the parquet schema and the dumped SQL DDL)."""
    from klepto_spark.functions.anonymise import (
        FAKER_LOCALES, anonymise_spark_factored)
    assert locale in FAKER_LOCALES
    specs = _sweep_specs()
    df = _corpus_df(spark)
    inline = df.selectExpr("id", *[
        f"{anonymise_sql(sp, 'v', table='t', locale=locale)} AS c{i}"
        for i, sp in enumerate(specs)])
    taken = {"id", "v"}
    helpers, final = {}, []
    for i, sp in enumerate(specs):
        sql, hs = anonymise_spark_factored(sp, "v", table="t",
                                           locale=locale, avoid=taken)
        taken.update(hs)
        helpers.update(hs)
        final.append(f"{sql} AS c{i}")
    twin = df.selectExpr("id", "v", *[f"{h} AS {n}"
                                      for n, h in helpers.items()]
                         ).selectExpr("id", *final)
    want_fields = [(f.name, f.dataType, f.nullable)
                   for f in inline.schema.fields]
    got_fields = [(f.name, f.dataType, f.nullable)
                  for f in twin.schema.fields]
    assert got_fields == want_fields
    want = {r.id: tuple(r) for r in inline.collect()}
    got = {r.id: tuple(r) for r in twin.collect()}
    for i, sp in enumerate(specs):
        assert ({k: v[i + 1] for k, v in got.items()}
                == {k: v[i + 1] for k, v in want.items()}), sp


#: sha256 of the inline portable text over every faker x locale (see
#: test_oracle_text_is_pinned); it changes only when the oracle's values do
ORACLE_TEXT_SHA256 = (
    "cb65df27d723675147001f5431c7cd8136c0bb8aa04d769e4d1828e1023fc87e")


def test_oracle_text_is_pinned():
    """The DuckDB oracle replays anonymise_sql's text; the Spark twins are
    free to change, that text is not. Pinned by digest over FAKER_NAMES
    (args forms included) x FAKER_LOCALES."""
    import hashlib
    import logging

    from klepto_spark.functions.anonymise import FAKER_LOCALES
    logging.disable(logging.WARNING)  # parseArgs' zero-value fallbacks
    try:
        texts = [anonymise_sql(sp, "v", table="t", locale=loc)
                 for loc in FAKER_LOCALES for sp in _sweep_specs()]
    finally:
        logging.disable(logging.NOTSET)
    assert len(texts) == 300
    digest = hashlib.sha256("\n".join(texts).encode()).hexdigest()
    assert digest == ORACLE_TEXT_SHA256


@pytest.mark.parametrize("spec", ["FullName", "FormatPreserve",
                                  "EmailAddress", "Company", "Phone",
                                  "Sentence"])
def test_twin_uses_byte_view_and_array_kernels(spec):
    """The Spark twin of the benchmarked fakers decodes hash draws from
    the byte view and picks words from an array: no per-hex-char
    ``instr`` walk, no packed-literal ``rtrim(substr(...))`` pick."""
    from klepto_spark.functions.anonymise import anonymise_spark_factored
    sql, helpers = anonymise_spark_factored(spec, "v", table="t")
    text = "\n".join([sql, *helpers.values()])
    assert "instr('0123456789abcdef'" not in text
    assert "rtrim(substr('" not in text
    # ...while the oracle's inline text keeps both
    assert "instr('0123456789abcdef'" in anonymise_sql(spec, "v", table="t")


def test_anonymise_spark_factored_delegates_for_plain_fakers():
    """Non-position-keyed fakers take the plain factored path unchanged."""
    from klepto_spark.functions.anonymise import (
        anonymise_factored, anonymise_spark_factored)
    assert (anonymise_spark_factored("EmailAddress", "v", table="t")
            == anonymise_factored("EmailAddress", "v", table="t"))


def test_anonymise_factored_helper_names_avoid_collisions():
    from klepto_spark.functions.anonymise import anonymise_factored
    factored, helpers = anonymise_factored(
        "FormatPreserve", "v", table="t",
        avoid={"_ks_anon_h10", "_ks_anon_raw"})
    assert "_ks_anon_h10_" in helpers and "_ks_anon_raw_" in helpers
    assert "_ks_anon_h10" not in helpers and "_ks_anon_raw" not in helpers
