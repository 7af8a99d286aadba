"""Spark's casts to the canonical stored types, evaluated in Python.

The driver placement of the segment build (``build.build_segment_rows``)
converts each stored value to its field's canonical type
(``build._STORED_KIND_TYPES``) and each text value to a string without a
Spark job. The DataFrame placement does the same conversions with Spark's
``cast`` (``build._canonical_stored_col``, ``build._text_cols``). These
functions give what that cast gives, so both placements write the same
rows:

- ``to_bool``: strings t/true/y/yes/1 and f/false/n/no/0 in any case,
  after trimming; a number is true when it is not 0.
- ``to_double``: Java's number grammar (type suffix ``d``/``f``, hex
  floats) plus Spark's words inf/infinity/nan.
- ``to_timestamp_us``: microseconds since the epoch. A naive datetime or
  a string without a zone is read in the session time zone. Strings
  follow Spark's ``yyyy[-[m]m[-[d]d[( |T)[h]h[:[m]m[:[s]s[.fraction]]]]]]``
  with a zone after the seconds: ``Z``, an offset, UTC/GMT/UT with an
  optional offset, or a region id such as ``Europe/Paris``.
- ``to_text``: Spark's string form of a bool, number or timestamp.

A malformed string raises ``ValueError`` when ``ansi`` is set
(``spark.sql.ansi.enabled``, Spark's default) and converts to None when
it is not, as Spark's cast does. Known gaps: time-only strings (Spark
reads them on today's date), years outside 1-9999 and three-letter zone
ids other than UTC/GMT/UT are malformed here; ``to_text`` prints a
double with Python's shortest digits, where Java 17 prints a few values
(1e23) with more.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from zoneinfo import ZoneInfo

_BLANK = "".join(map(chr, range(33)))  # what Java's String.trim strips
_UTC = _dt.timezone.utc
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_UTC)
_US = _dt.timedelta(microseconds=1)

_BOOL_WORDS = {"t": True, "true": True, "y": True, "yes": True, "1": True,
               "f": False, "false": False, "n": False, "no": False, "0": False}
_DOUBLE_WORDS = {"inf": math.inf, "+inf": math.inf, "infinity": math.inf,
                 "+infinity": math.inf, "-inf": -math.inf, "-infinity": -math.inf,
                 "nan": math.nan}
_JAVA_DOUBLE = re.compile(
    r"(?P<dec>[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)[fFdD]?"
    r"|(?P<hex>[+-]?0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?\d+)[fFdD]?"
    r"|(?P<word>[+-]?(?:NaN|Infinity))")
_TIMESTAMP = re.compile(
    r"(\d{4})(?:-(\d{1,2})(?:-(\d{1,2})(?:[ T](\d{1,2})(?::(\d{1,2})"
    r"(?::(\d{1,2})(?:\.(\d*))?( ?(?:Z|(?:UTC|GMT|UT)?[+-][\d:]+|UTC|GMT|UT"
    r"|[A-Za-z_]+(?:/[A-Za-z0-9_+-]+)+))?)?)?)?)?)?")
_OFFSET = re.compile(r"([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?")


def _malformed(v, kind: str, ansi: bool):
    if ansi:
        raise ValueError(f"the value {v!r} cannot be cast to {kind}")
    return None


def to_bool(v, ansi: bool):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, str):
        got = _BOOL_WORDS.get(v.strip(_BLANK).lower())
        return _malformed(v, "boolean", ansi) if got is None else got
    return bool(v)


def to_double(v, ansi: bool):
    if v is None or isinstance(v, float):
        return v
    if not isinstance(v, str):
        return float(v)
    s = v.strip(_BLANK)
    m = _JAVA_DOUBLE.fullmatch(s)
    if m:
        return float.fromhex(m["hex"]) if m["hex"] else float(m["dec"] or m["word"])
    got = _DOUBLE_WORDS.get(s.lower())
    return _malformed(v, "double", ansi) if got is None else got


def _zone(text: str) -> _dt.tzinfo:
    text = text.strip()
    if text == "Z" or text in ("UTC", "GMT", "UT"):
        return _UTC
    m = _OFFSET.fullmatch(re.sub(r"^(UTC|GMT|UT)", "", text))
    if m is None:
        return ZoneInfo(text)
    sign, h, mi, s = m.groups()
    off = _dt.timedelta(hours=int(h), minutes=int(mi or 0), seconds=int(s or 0))
    return _dt.timezone(-off if sign == "-" else off)


def _parse_timestamp(s: str, tz: str) -> _dt.datetime:
    m = _TIMESTAMP.fullmatch(s.strip(_BLANK))
    if m is None:
        raise ValueError(s)
    y, mo, d, h, mi, sec, frac, zone = m.groups()
    return _dt.datetime(int(y), int(mo or 1), int(d or 1), int(h or 0), int(mi or 0),
                        int(sec or 0), int((frac or "")[:6].ljust(6, "0")),
                        tzinfo=_zone(zone) if zone else ZoneInfo(tz))


def to_timestamp_us(v, tz: str, ansi: bool):
    """Microseconds since the epoch of a datetime, date or string."""
    if v is None or v != v:  # NaT or a pandas NaN: missing
        return None
    if isinstance(v, str):
        try:
            v = _parse_timestamp(v, tz)
        except (ValueError, KeyError, OSError):  # ZoneInfo: KeyError/OSError
            return _malformed(v, "timestamp", ansi)
    elif not isinstance(v, _dt.datetime):  # a date: midnight
        v = _dt.datetime(v.year, v.month, v.day)
    if v.tzinfo is None:
        v = v.replace(tzinfo=ZoneInfo(tz))
    return (v - _EPOCH) // _US


def _java_double_text(x: float) -> str:
    """Java's ``Double.toString``: plain in [1e-3, 1e7), else d.dddEn."""
    if x != x:
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    sign = "-" if math.copysign(1.0, x) < 0 else ""
    if x == 0:
        return sign + "0.0"
    mant, _, exp = f"{abs(x)!r}".partition("e")
    whole, _, frac = mant.partition(".")
    digits = (whole + frac).lstrip("0")
    point = len(whole) + int(exp or 0) - (len(whole + frac) - len(digits))
    digits = digits.rstrip("0") or "0"
    if 1e-3 <= abs(x) < 1e7:
        if point <= 0:
            return f"{sign}0.{'0' * -point}{digits}"
        if point >= len(digits):
            return f"{sign}{digits}{'0' * (point - len(digits))}.0"
        return f"{sign}{digits[:point]}.{digits[point:]}"
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{point - 1}"


def to_text(v, tz: str):
    """Spark's cast to string: a timestamp in the session time zone
    ``tz`` as ``yyyy-MM-dd HH:mm:ss[.fraction]``."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _java_double_text(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(ZoneInfo(tz))
        frac = f".{v.microsecond:06d}".rstrip("0") if v.microsecond else ""
        return v.strftime("%Y-%m-%d %H:%M:%S") + frac
    return str(v)
