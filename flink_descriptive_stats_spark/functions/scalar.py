"""Scalar expression layer (F1-F7 in SURVEY.md §2.2).

Every function here exists in two synchronized forms:
- a Spark ``Column`` builder (built-in JVM expressions only — no Python UDFs
  in the hot path; everything stays inside whole-stage codegen), and
- a DuckDB SQL fragment builder (``duck_*``) used by the correctness oracle.

Reference semantics being modeled (file:line cites into /root/reference):
- F1 numeric widening          CastUtils.java:47-65
- F2 display length            StatsPojo.java:403-433
- F3 blank test                StatsPojo.java:89
- F4 character-pattern gen     StringStatsTuple.java:24-46
- F5 boolean parse check       StatsPojo.java:320-324 (only "true" counts)
- F6 int/long/float/double     StatsPojo.java:326-360 (Java parseXxx, not SQL cast)
- F7 multi-pattern date check  StatsPojo.java:362-400

Documented deviations (SURVEY.md §2.6): NULL instead of NaN sentinels.
Float/double display length follows the reference's Calcite rendering
exactly (BigDecimal(x, DECIMAL32/64).stripTrailingZeros().toString() with
E+ -> E, CastUtils.java:22-45 — see fp_display_len_py), with one
micro-deviation: +-Infinity yields length 0 like NaN where the reference's
`new BigDecimal(inf)` would throw. DecimalType length replicates Java
BigDecimal.toString() including the scientific form at adjusted exponent
< -6 (see _decimal_length_expr). F6 accepts Java hex-float literals and
trims all chars <= U+0020 like Java's parseDouble (JAVA_TRIM_RE).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# type classification (F1)
# --------------------------------------------------------------------------

_NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def is_numeric_type(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def numeric_expr(name: str, dt: T.DataType) -> Column | None:
    """F1: widen a column to DOUBLE for moment statistics.

    Numerics cast to double; dates/timestamps become epoch *milliseconds*
    (the reference runs numeric stats in epoch-millis space,
    CastUtils.java:60-62); booleans and strings are excluded (-> None).
    BigDecimal support is an improvement — the reference would throw
    (CastUtils.java:64).
    """
    c = F.col(name)
    if is_numeric_type(dt):
        return c.cast("double")
    if isinstance(dt, T.DateType):
        return (F.unix_date(c).cast("double") * F.lit(86400000.0))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # NTZ wall time is interpreted as UTC (session TZ is pinned to UTC),
        # matching DuckDB's naive-timestamp epoch semantics.
        return F.unix_millis(c.cast("timestamp")).cast("double")
    return None


def duck_numeric_expr(name: str, dt: T.DataType) -> str | None:
    if is_numeric_type(dt):
        return f"CAST({name} AS DOUBLE)"
    if isinstance(dt, T.DateType):
        return f"CAST(epoch_ms(CAST({name} AS TIMESTAMP)) AS DOUBLE)"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"CAST(epoch_ms({name}) AS DOUBLE)"
    return None


# --------------------------------------------------------------------------
# display length (F2)
# --------------------------------------------------------------------------

def fp_display_len_py(v: float | None, sig: int) -> int | None:
    """Python mirror of the Calcite float/double rendering length —
    ``BigDecimal(x, DECIMAL32|64).stripTrailingZeros().toString()`` with
    "E+" -> "E" (CastUtils.java:22-45). Python's ``decimal`` (libmpdec) is
    exact over the binary value and rounds HALF_EVEN with the same
    plain-vs-scientific toString rule as java.math.BigDecimal, so this IS
    the reference semantics, digit for digit."""
    import math
    from decimal import Context, Decimal
    if v is None:
        return None
    if math.isnan(v) or math.isinf(v):
        return 0        # NaN renders "" in the reference; Inf would throw
    if v == 0:
        return 3        # "0E0"
    d = Context(prec=sig).create_decimal(Decimal(v)).normalize()
    return len(str(d).replace("E+", "E"))


def _fp_length_expr(c: Column, sig: int) -> Column:
    """Length of the Calcite scientific rendering of a float/double
    (CastUtils.getFloatAsStr/getDoubleAsStr, StatsPojo.java:422-427):
    BigDecimal(x, {DECIMAL32|DECIMAL64}).stripTrailingZeros().toString()
    with "E+" -> "E"; NaN renders "" (length 0), +-0 renders "0E0".

    THE one Arrow-vectorized (pandas_udf) expression in the profile:
    BigDecimal exactifies the binary value (671.81d really is
    671.80999999999994543..., so DECIMAL64 renders "671.8099999999999",
    length 16) and those exact-expansion digits need >38-digit integer
    arithmetic — beyond Spark SQL built-ins (format_string/%E pads
    Double.toString's SHORTEST digits, giving "671.81"; double->decimal
    casts go through BigDecimal.valueOf = shortest too). Python's decimal
    is exact and HALF_EVEN like MathContext.DECIMAL64, ~1.1s/600k values
    single-threaded and partition-parallel under Arrow.

    NULL handling stays JVM-side (Arrow folds NULL and NaN together in a
    float64 batch; the reference distinguishes them — null -> no length,
    NaN -> 0)."""
    @F.pandas_udf("int")
    def fp_len(s: pd.Series) -> pd.Series:
        # memoize per distinct value: real columns repeat heavily
        # (quantities, discounts, rates), making the batch ~free; the
        # worst case (all-distinct) degrades to one render per row
        m = {v: fp_display_len_py(v, sig) for v in s.dropna().unique()}
        out = s.map(m)
        out[s.isna()] = 0   # true NaN renders ""; real NULLs handled JVM-side
        return out.astype("Int32")

    return (F.when(c.isNull(), F.lit(None).cast("int"))
            .otherwise(fp_len(c.cast("double"))))


def _decimal_length_expr(c: Column, scale: int) -> Column:
    """DecimalType display length (StatsPojo.java:428-430 /
    getBigDecimalAsStr = BigDecimal.toString() with ONE leading zero
    stripped: "0.50" -> ".50", "-0.50" -> "-.50"; the "0"-valued decimal at
    scale 0 renders "" — the reference quirk, length 0).

    BigDecimal.toString() switches to scientific form when the adjusted
    exponent (precision - 1 - scale) is < -6, e.g. Decimal(20,10) value
    1E-9 renders "1.0E-9" (trailing zeros kept — no stripTrailingZeros in
    this path, unlike float/double), and zero at scale 10 renders "0E-10"
    -> leading-zero strip -> "E-10". Both Spark and DuckDB cast
    decimal->string as PLAIN fixed-scale always (probed empirically), so
    the scientific length is computed by string arithmetic over the plain
    rendering: p = digits of the unscaled value, exponent = scale + 1 - p.
    Columns with scale <= 6 can never hit the scientific branch
    (adjusted exponent >= -scale >= -6), so they keep the single cheap
    regexp — no extra codegen in the common case."""
    plain = c.cast("string")
    plain_len = F.length(F.regexp_replace(plain, "^(-?)0", "$1"))
    if scale <= 6:
        return plain_len
    # precision of the unscaled value; 0 marks the zero value
    p = F.length(F.regexp_replace(F.translate(plain, "-.", ""), "^0+", ""))
    neg = F.when(c < 0, F.lit(1)).otherwise(F.lit(0))
    exp_digits = F.length((F.lit(scale + 1) - p).cast("string"))
    # [-] d [. d{p-1}] "E-" exp
    sci_len = (neg + F.when(p == F.lit(1), F.lit(1)).otherwise(p + F.lit(1))
               + F.lit(2) + exp_digits)
    return (F.when(p == F.lit(0), F.lit(2 + len(str(scale))))  # "E-<scale>"
            .when(p < F.lit(scale - 5), sci_len)
            .otherwise(plain_len))


def length_expr(name: str, dt: T.DataType) -> Column | None:
    """F2: value display-length. Strings -> char length; integrals -> decimal
    digit count (incl. sign); booleans -> 4/5 ("true"/"false");
    float/double/decimal -> Calcite-rendering length (see _fp_length_expr /
    _decimal_length_expr); temporal -> no length (reference returns null for
    java.sql.Date, StatsPojo.java:405-407)."""
    c = F.col(name)
    if isinstance(dt, T.StringType):
        return F.length(c)
    if isinstance(dt, _INTEGRAL_TYPES):
        return F.length(c.cast("string"))
    if isinstance(dt, T.BooleanType):
        return (F.when(c.isNull(), F.lit(None).cast("int"))
                .when(c, F.lit(4)).otherwise(F.lit(5)))
    if isinstance(dt, T.FloatType):
        return _fp_length_expr(c, 7)    # MathContext.DECIMAL32
    if isinstance(dt, T.DoubleType):
        return _fp_length_expr(c, 16)   # MathContext.DECIMAL64
    if isinstance(dt, T.DecimalType):
        return _decimal_length_expr(c, dt.scale)
    return None


def _duck_fp_length(x: str, sig: int) -> str:
    """DuckDB mirror of _fp_length_expr ('%.{sig-1}e' printf; lowercase)."""
    s = f"printf('%.{sig - 1}e', CAST({x} AS DOUBLE))"
    mant = f"split_part({s}, 'e', 1)"
    a = f"CAST(split_part({s}, 'e', 2) AS INTEGER)"
    p = f"length(regexp_replace(translate({mant}, '-.', ''), '0+$', ''))"
    neg = f"(CASE WHEN {x} < 0 THEN 1 ELSE 0 END)"
    scale = f"({p} - 1 - {a})"
    plain = (f"(CASE WHEN {scale} = 0 THEN {p} "
             f"WHEN {a} >= 0 THEN {p} + 1 "
             f"ELSE {p} + 1 - {a} END)")
    sci = (f"({p} + (CASE WHEN {p} > 1 THEN 1 ELSE 0 END) + 1 "
           f"+ (CASE WHEN {a} < 0 THEN 1 ELSE 0 END) "
           f"+ length(CAST(abs({a}) AS VARCHAR)))")
    return (f"(CASE WHEN {x} IS NULL THEN NULL "
            f"WHEN isnan(CAST({x} AS DOUBLE)) "
            f"OR isinf(CAST({x} AS DOUBLE)) THEN 0 "
            f"WHEN {x} = 0 THEN 3 "
            f"WHEN {scale} >= 0 AND {a} >= -6 THEN {plain} + {neg} "
            f"ELSE {sci} + {neg} END)")


def duck_length_expr(name: str, dt: T.DataType) -> str | None:
    if isinstance(dt, T.StringType):
        return f"length({name})"
    if isinstance(dt, _INTEGRAL_TYPES):
        return f"length(CAST({name} AS VARCHAR))"
    if isinstance(dt, T.BooleanType):
        return (f"CASE WHEN {name} IS NULL THEN NULL "
                f"WHEN {name} THEN 4 ELSE 5 END")
    if isinstance(dt, T.FloatType):
        return _duck_fp_length(name, 7)
    if isinstance(dt, T.DoubleType):
        return _duck_fp_length(name, 16)
    if isinstance(dt, T.DecimalType):
        return _duck_decimal_length(name, dt.scale)
    return None


def _duck_decimal_length(name: str, scale: int) -> str:
    """DuckDB mirror of _decimal_length_expr (same plain-rendering string
    arithmetic; DuckDB also casts decimal->varchar as plain fixed-scale)."""
    plain_len = (f"length(regexp_replace(CAST({name} AS VARCHAR), "
                 f"'^(-?)0', '\\1'))")
    if scale <= 6:
        return plain_len
    p = (f"length(regexp_replace(translate(CAST({name} AS VARCHAR), "
         f"'-.', ''), '^0+', ''))")
    neg = f"(CASE WHEN {name} < 0 THEN 1 ELSE 0 END)"
    exp_digits = f"length(CAST({scale + 1} - {p} AS VARCHAR))"
    sci = (f"({neg} + (CASE WHEN {p} = 1 THEN 1 ELSE {p} + 1 END) "
           f"+ 2 + {exp_digits})")
    return (f"(CASE WHEN {p} = 0 THEN {2 + len(str(scale))} "
            f"WHEN {p} < {scale - 5} THEN {sci} "
            f"ELSE {plain_len} END)")


# --------------------------------------------------------------------------
# blank test (F3)
# --------------------------------------------------------------------------

def is_blank_expr(c: Column) -> Column:
    """F3: non-null and trim-empty."""
    return c.isNotNull() & (F.trim(c) == "")


def duck_is_blank(name: str) -> str:
    return f"({name} IS NOT NULL AND trim({name}) = '')"


# --------------------------------------------------------------------------
# character-pattern generator (F4)
# --------------------------------------------------------------------------

# Accent fold mirroring commons-lang3 StringUtils.stripAccents (what the
# reference calls, StringStatsTuple.java:26): NFD-decompose, drop combining
# marks in U+0300-036F, special-case L-stroke. Re-expressed JVM-side as
# (a) a translate table generated AT IMPORT from unicodedata — every BMP
# precomposed char whose NFD is an ASCII letter + combining marks — plus
# (b) a regex delete of literal combining marks (covers already-decomposed
# input, which the reference also folds). Chars with no NFD decomposition
# (o-slash, ae, eth) stay put, exactly like commons-lang (they then hit the
# '?' class). Non-ASCII bases (Greek/Cyrillic precomposed) are omitted from
# the table: their stripped base is still non-ASCII, so the emitted pattern
# char is '?' either way — identical output, smaller table.
def _gen_accent_table() -> tuple[str, str]:
    import unicodedata
    src, dst = [], []
    # Latin-1 Supplement through Latin Extended-B, Latin Extended Additional
    for cp in [*range(0x00C0, 0x0250), *range(0x1E00, 0x1F00)]:
        ch = chr(cp)
        d = unicodedata.normalize("NFD", ch)
        if (len(d) >= 2 and all(0x300 <= ord(m) <= 0x36F for m in d[1:])
                and ("a" <= d[0] <= "z" or "A" <= d[0] <= "Z")):
            src.append(ch)
            dst.append(d[0])
    src += ["Ł", "ł"]     # commons-lang3 special case: Ł/ł -> L/l
    dst += ["L", "l"]
    return "".join(src), "".join(dst)


ACCENT_SRC, ACCENT_DST = _gen_accent_table()
COMBINING_MARKS_RE = f"[{chr(0x0300)}-{chr(0x036F)}]"

# Replacement steps, applied in order (order matters: letter/digit classes
# are consumed before the catch-all '?'); identical regex semantics in Java
# regex (Spark) and RE2 (DuckDB) — ASCII classes only.
PATTERN_STEPS = [
    ("[a-z]", "a"),
    ("[A-Z]", "A"),
    ("[0-9]", "#"),
    ("[ \t]", "b"),
    ("[^aAb#/:.'-]", "?"),
]


def pattern_expr(c: Column) -> Column:
    """F4: accent-fold then map chars: a-z->a, A-Z->A, 0-9->#, space/tab->b,
    keep ``/ : . - ' #``, anything else -> ?  (StringStatsTuple.java:24-46)."""
    out = F.translate(c, ACCENT_SRC, ACCENT_DST)
    out = F.regexp_replace(out, COMBINING_MARKS_RE, "")
    for pat, rep in PATTERN_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def duck_pattern_expr(expr: str) -> str:
    out = f"translate({expr}, '{ACCENT_SRC}', '{ACCENT_DST}')"
    out = f"regexp_replace({out}, '{COMBINING_MARKS_RE}', '', 'g')"
    for pat, rep in PATTERN_STEPS:
        pat_sql = pat.replace("\t", "\\t").replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{rep}', 'g')"
    return out


# --------------------------------------------------------------------------
# latent-type parse checks (F5, F6, F7)
# --------------------------------------------------------------------------

INT_RE = "^[+-]?[0-9]+$"
# Java Double/Float.parseXxx grammar: optional sign, NaN / Infinity, decimal
# literal with optional exponent and f/F/d/D suffix, or a hex-float literal
# (HexSignificand = 0x HexDigits "."? | 0x HexDigits? "." HexDigits, with a
# REQUIRED binary exponent pP SignedInteger — Double.valueOf javadoc grammar).
# Identical semantics in Java regex (Spark) and RE2 (DuckDB); no quotes.
FLOAT_RE = ("^[+-]?(NaN|Infinity|"
            "([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?|"
            "0[xX]([0-9a-fA-F]+\\.?|[0-9a-fA-F]*\\.[0-9a-fA-F]+)"
            "[pP][+-]?[0-9]+[fFdD]?)$")
# Java String.trim() strips every char <= U+0020 from both ends (that is
# what parseFloat/parseDouble apply before the grammar); SQL trim() strips
# the ASCII space only, hence the regex.
JAVA_TRIM_RE = "^[\\x00-\\x20]+|[\\x00-\\x20]+$"

# (spark_fmt, duckdb_fmt, shape_regex) — shape regex pins digit counts so the
# two engines' lenient parsers can't disagree; the parser then validates the
# calendar date (rejects 2020-02-30). Reference patterns: StatsPojo.java:371-379.
DATE_PATTERNS = [
    ("yyyy-MM-dd", "%Y-%m-%d", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("yyyyMMdd", "%Y%m%d", "^[0-9]{8}$"),
    ("yyyy/MM/dd", "%Y/%m/%d", "^[0-9]{4}/[0-9]{2}/[0-9]{2}$"),
    ("dd/MM/yyyy", "%d/%m/%Y", "^[0-9]{2}/[0-9]{2}/[0-9]{4}$"),
    ("dd-MM-yyyy", "%d-%m-%Y", "^[0-9]{2}-[0-9]{2}-[0-9]{4}$"),
    ("MM/dd/yyyy", "%m/%d/%Y", "^[0-9]{2}/[0-9]{2}/[0-9]{4}$"),
    ("MM-dd-yyyy", "%m-%d-%Y", "^[0-9]{2}-[0-9]{2}-[0-9]{4}$"),
]


def parses_bool_expr(c: Column) -> Column:
    """F5: Java Boolean.parseBoolean — ONLY case-insensitive "true" counts
    (the reference quirk; "false" does not increment the counter)."""
    return c.isNotNull() & (F.lower(c) == "true")


def duck_parses_bool(name: str) -> str:
    return f"({name} IS NOT NULL AND lower({name}) = 'true')"


def parses_int_expr(c: Column) -> Column:
    """F6: Java Integer.parseInt — digits-only shape (no trim) + i32 range."""
    return c.rlike(INT_RE) & c.try_cast("int").isNotNull()


def duck_parses_int(name: str) -> str:
    return (f"(regexp_matches({name}, '{INT_RE}') "
            f"AND TRY_CAST({name} AS INTEGER) IS NOT NULL)")


def parses_long_expr(c: Column) -> Column:
    return c.rlike(INT_RE) & c.try_cast("bigint").isNotNull()


def duck_parses_long(name: str) -> str:
    return (f"(regexp_matches({name}, '{INT_RE}') "
            f"AND TRY_CAST({name} AS BIGINT) IS NOT NULL)")


def parses_float_expr(c: Column) -> Column:
    """F6: Java Float/Double.parseXxx (they trim chars <= U+0020 via
    String.trim; overflow goes to Infinity so there is no range check).
    Float and double acceptance are identical by construction."""
    return F.regexp_replace(c, JAVA_TRIM_RE, "").rlike(FLOAT_RE)


def duck_parses_float(name: str) -> str:
    # FLOAT_RE / JAVA_TRIM_RE contain no single quotes and RE2 accepts the
    # same escapes, so the patterns embed into the SQL literal verbatim.
    return (f"regexp_matches(regexp_replace({name}, "
            f"'{JAVA_TRIM_RE}', '', 'g'), '{FLOAT_RE}')")


def parses_date_expr(c: Column) -> Column:
    """F7: strict multi-pattern date check — value counts once if it matches
    ANY of the 7 reference patterns (shape regex + calendar validity)."""
    checks = [
        c.rlike(shape) & F.try_to_date(c, fmt).isNotNull()
        for fmt, _, shape in DATE_PATTERNS
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out | chk
    return c.isNotNull() & out


def duck_parses_date(name: str) -> str:
    checks = [
        f"(regexp_matches({name}, '{shape}') "
        f"AND try_strptime({name}, '{duck_fmt}') IS NOT NULL)"
        for _, duck_fmt, shape in DATE_PATTERNS
    ]
    return f"({name} IS NOT NULL AND ({' OR '.join(checks)}))"
