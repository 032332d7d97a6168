"""Scalar column-expression library (SURVEY.md §2.I).

Each helper is a pure Column→Column function built from JVM-side
``pyspark.sql.functions`` — no Python UDFs, so every expression stays inside
whole-stage codegen and is vectorized on the executors.  These replace the
reference's SQL scalar functions and its Bash/Python formatting helpers
(scripts/lib_fmt.sh:6-58).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def lower_addr(col: Column) -> Column:
    """Address canonicalization — lowercase once at write time so scan-side
    predicates stay sargable (fn-lower; merlin_etl.py:297-298,411-414)."""
    return F.lower(col)


def scale_18d(raw: Column) -> Column:
    """Exact fixed-scale variant: raw base units → 18-decimal human units
    as DECIMAL(38,18), mirroring the stored generated columns
    (schema.sql:51-52,109-110: ``quantity_raw / 10^18`` regardless of
    token_decimal — the reference's own scaling inconsistency, SURVEY §1.3).

    Exactness: a naive decimal division routes through double (POWER) or
    Spark's scale-6 quotient adjustment, both of which silently drop
    low-order digits for raws beyond ~2^53.  Instead the value is split
    exactly: frac = raw mod 10^18 (exact decimal pmod), whole = the exact
    integral quotient of (raw - frac), recombined at scale 18.  Exact for
    any raw < 10^38 (human units < 10^20, SURVEY §1.3's documented range);
    beyond that → NULL (ANSI-off overflow policy)."""
    ten18 = F.lit(Decimal(10) ** 18)  # DecimalType(19,0)
    raw_dec = raw.cast(T.DecimalType(38, 0))
    frac = F.pmod(raw_dec, ten18)  # exact: 0 ≤ frac < 10^18
    # (raw - frac)/10^18 is an integral exact quotient (the scale-6
    # adjustment cannot lose digits of an integral value).  Recombining
    # with decimal ADDITION would hit Spark's precision-39 scale
    # adjustment (drops the 18th fraction digit), so the digits are
    # assembled as a string — exact by construction — and parsed once.
    whole = ((raw_dec - frac) / ten18).cast(T.DecimalType(20, 0))
    return F.concat(
        whole.cast("string"), F.lit("."), F.lpad(frac.cast("string"), 18, "0")
    ).cast(T.DecimalType(38, 18))


def floor_to_bucket(ts: Column, seconds: int) -> Column:
    """Floor a timestamp to a tumbling bucket of ``seconds``.  True floor
    (F.floor), not cast-truncation: cast('bigint') truncates toward zero,
    which buckets pre-1970 timestamps to the boundary AFTER the event and
    diverges from SQL ``//`` floor division."""
    return F.timestamp_seconds(F.floor(F.unix_timestamp(ts) / seconds).cast("bigint") * seconds)


def floor_6h(ts: Column) -> Column:
    """Floor a timestamp to the 6-hour UTC grid 00/06/12/18 (fn-floor-6h;
    merlin_etl.py:190-194)."""
    return floor_to_bucket(ts, 21600)


def trigger_id(ts: Column) -> Column:
    """Bucket trigger id ``YYYY/MM/DD-HH:MM``
    (scripts/run_holders_and_top100.sh:38)."""
    return F.date_format(ts, "yyyy/MM/dd-HH:mm")


def from_unix(col: Column) -> Column:
    """Unix seconds → UTC timestamp (fn-from-unixtime; merlin_etl.py:180-182,
    417: block_time_utc = utc(block_time_unix))."""
    return F.timestamp_seconds(col.cast("bigint"))


def try_int(col: Column, default: int = 0) -> Column:
    """Tolerant int parse with default (fn-trycast-int / parse_int;
    merlin_etl.py:184-188)."""
    return F.coalesce(col.try_cast("bigint"), F.lit(default))


def short_addr(col: Column) -> Column:
    """Address shortening ``0xabcd…wxyz`` — first 6 chars + ellipsis + last 4
    (fn-substr-short; scripts/lib_fmt.sh:6)."""
    return F.concat(F.substring(col, 1, 6), F.lit("…"), F.substring(col, -4, 4))


def html_link(base_url: Column | str, addr: Column, label: Column) -> Column:
    """HTML anchor to an explorer address page (fn-html-link;
    scripts/lib_fmt.sh:7)."""
    base = F.lit(base_url) if isinstance(base_url, str) else base_url
    return F.format_string('<a href="%s/address/%s">%s</a>', base, addr, label)


def two_dec(col: Column) -> Column:
    """Exact 2-decimal quantize (fn-two-dec; scripts/lib_fmt.sh:10-20)."""
    return col.cast(T.DecimalType(38, 2))


def commify(col: Column) -> Column:
    """Thousands separators at 2dp (fn-commify; scripts/lib_fmt.sh:22-39)."""
    return F.format_number(col.cast(T.DecimalType(38, 2)), 2)


def strip_commas(col: Column) -> Column:
    """Strip commas before numeric re-parse (fn-commas-strip;
    scripts/lib_fmt.sh:15,26)."""
    return F.regexp_replace(col, ",", "")


def humanize(col: Column) -> Column:
    """K/M/B/T suffix humanization at 2dp (fn-humanize;
    scripts/lib_fmt.sh:41-58).  Decimal-formatted so the rendering is
    deterministic across engines."""
    v = col.cast("double")

    def fmt(scaled: Column, suffix: str) -> Column:
        # (38,2): an (18,2) cast overflows to NULL for uint256-scale
        # magnitudes (e.g. 2e28/1e12 = 2e16 > 10^16)
        return F.concat(
            F.round(scaled, 2).cast(T.DecimalType(38, 2)).cast("string"), F.lit(suffix)
        )

    return (
        F.when(F.abs(v) >= 1e12, fmt(v / 1e12, "T"))
        .when(F.abs(v) >= 1e9, fmt(v / 1e9, "B"))
        .when(F.abs(v) >= 1e6, fmt(v / 1e6, "M"))
        .when(F.abs(v) >= 1e3, fmt(v / 1e3, "K"))
        .otherwise(F.round(v, 2).cast(T.DecimalType(38, 2)).cast("string"))
    )


def md_escape(col: Column) -> Column:
    r"""MarkdownV2 special-character escaping (fn-md-escape;
    scripts/notify_telegram.sh:14 sed class ``[_*[]()~`>#+=|{}.!-]``)."""
    return F.regexp_replace(col, r"([_*\[\]()~`>#+=|{}.!\\-])", r"\\$1")


def hex_decode_addr(col: Column) -> Column:
    """0x-hex string → binary (fn-hex-decode;
    sql/top100_from_latest_bucket.sql:106-117)."""
    return F.unhex(F.substr(col, F.lit(3)))


def json_stats(*pairs: tuple[str, Column], string_keys: frozenset[str] | set[str] = frozenset()) -> Column:
    """Build a deterministic JSON stats object from (key, string-castable
    column) pairs (fn-json-build; merlin_etl.py:151,174 json.dumps).
    Rendered by concatenation so the byte output is engine-portable.
    NULL values render as JSON ``null`` (bare concat would null the whole
    object); keys named in ``string_keys`` are JSON-quoted with escaping —
    numeric values are emitted bare like json.dumps does."""
    parts: list[Column] = [F.lit("{")]
    for i, (k, v) in enumerate(pairs):
        if i:
            parts.append(F.lit(","))
        parts.append(F.lit(f'"{k}":'))
        s = v.cast("string")
        if k in string_keys:
            escaped = F.regexp_replace(
                F.regexp_replace(s, r"\\", r"\\\\"), '"', r"\\\""
            )
            s = F.concat(F.lit('"'), escaped, F.lit('"'))
        parts.append(F.coalesce(s, F.lit("null")))
    parts.append(F.lit("}"))
    return F.concat(*parts)
