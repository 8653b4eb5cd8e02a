"""Temporal specs (``simple.py:257-362``).

The reference parses with ``dateutil`` (fuzzy), assumes ``timezone`` for
naive inputs, and **always converts to UTC** (``simple.py:334``).

Two paths:

- ``strict=True`` (default): JVM-side ``try_to_timestamp`` over a
  configurable format list — this is the scale path (whole-stage codegen).
  Sessions must run with ``spark.sql.session.timeZone=UTC`` (see
  ``filters_spark.session``) so naive strings are read as UTC, matching
  the reference's UTC-everywhere model.
- ``strict=False``: Arrow kernel using the same ``dateutil`` parser as
  the reference for full fuzzy-parse parity.
"""

from __future__ import annotations

from datetime import date, datetime, time, timedelta, timezone as _tz

from pyspark.sql import functions as F
from pyspark.sql import types as T

from filters_spark.core.spec import BaseSpec, CompileError, Step, Violation
from filters_spark.core.arrow import call_kernel, elementwise
from filters_spark.core.spec import CODE_EXCEPTION, MSG_EXCEPTION

CODE_NOT_DATETIME = "not_datetime"  # simple.py:260
CODE_NOT_DATE = "not_date"  # simple.py:348

#: formats tried (in order) after the default ISO parser, JVM path
DEFAULT_FORMATS = (
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "MM/dd/yyyy",
)


class Datetime(BaseSpec):
    """Interpret the value as a UTC datetime (``simple.py:257-336``)."""

    templates = {CODE_NOT_DATETIME: "This value does not appear to be a datetime."}
    _code = CODE_NOT_DATETIME
    _kernel_type = T.TimestampType()

    def __init__(
        self,
        timezone=None,
        naive: bool = False,
        strict: bool = True,
        formats=DEFAULT_FORMATS,
    ) -> None:
        """``timezone`` accepts int/float hour offsets (reference
        ``simple.py:288-298``) AND ``tzinfo`` objects: fixed-offset
        tzinfos (``datetime.timezone``, ``dateutil.tz.tzoffset``) via
        their ``utcoffset()``, IANA-named zones (``zoneinfo.ZoneInfo``,
        pytz) via the zone NAME — the JVM strict path hands the name to
        ``to_utc_timestamp``, which applies real DST rules per value."""
        import datetime as _dt

        self.naive = naive  # Spark timestamps are tz-less; kept for API parity
        self.strict = strict
        self.formats = tuple(formats)
        self._tzinfo = None  # kernel path: exact tzinfo to attach
        self._tz_name: str | None = None  # JVM path: IANA zone name
        self.timezone: float | None = None  # JVM path: fixed hour offset
        if timezone is None:
            pass
        elif isinstance(timezone, (int, float)):
            self.timezone = float(timezone)
        elif isinstance(timezone, _dt.tzinfo):
            self._tzinfo = timezone
            name = getattr(timezone, "key", None) or getattr(
                timezone, "zone", None
            )
            if name:
                self._tz_name = str(name)
                # pytz normalisation (ADVICE r2): attaching a pytz zone
                # with datetime.replace() yields its raw LMT offset
                # (e.g. Asia/Kolkata +5:53) — the reference inherits
                # that wart (simple.py:331 replace(tzinfo=...)); here
                # BOTH paths apply the zone's real rules, so convert the
                # pytz object to zoneinfo by key for the kernel path
                # (matching what the JVM's to_utc_timestamp does).
                # Documented divergence: DEVIATIONS.md #2.
                if not hasattr(timezone, "key"):  # pytz-style object
                    try:
                        from zoneinfo import ZoneInfo

                        self._tzinfo = ZoneInfo(self._tz_name)
                    except KeyError:
                        pass  # unknown key: keep the object as given
            else:
                off = timezone.utcoffset(None)
                if off is None:
                    raise ValueError(
                        "DST-dependent tzinfo without an IANA name "
                        "(no .key/.zone and no fixed utcoffset) is not "
                        "supported; pass a zoneinfo.ZoneInfo or an offset"
                    )
                self.timezone = off.total_seconds() / 3600.0
        else:
            raise TypeError(f"unsupported timezone {timezone!r}")

    # -- kernel path (dateutil parity) --------------------------------------

    def _scalar(self, x):
        from dateutil.parser import parse as dateutil_parse

        if isinstance(x, datetime):
            parsed = x
        elif isinstance(x, date):
            parsed = datetime.combine(x, time.min)
        else:
            try:
                parsed = dateutil_parse(x)
            except (ValueError, OverflowError):
                return None, self._code
        if parsed.tzinfo is None:
            if self._tzinfo is not None:
                parsed = parsed.replace(tzinfo=self._tzinfo)
            else:
                offset = float(self.timezone or 0)
                parsed = parsed.replace(tzinfo=_tz(timedelta(hours=offset)))
        return parsed.astimezone(_tz.utc).replace(tzinfo=None), None

    # -- compile -------------------------------------------------------------

    def _parse_string(self, value):
        candidates = [F.try_to_timestamp(value)]
        candidates += [
            F.try_to_timestamp(value, F.lit(fmt)) for fmt in self.formats
        ]
        parsed = F.coalesce(*candidates)
        if self._tz_name:
            # named zone: the JVM applies the zone's real (DST-aware)
            # rules per value — same tzdata as zoneinfo
            parsed = F.to_utc_timestamp(parsed, self._tz_name)
        elif self.timezone:
            # naive input assumed at the configured offset → shift to UTC
            sign = "+" if self.timezone >= 0 else "-"
            hh = int(abs(self.timezone))
            mm = int(round((abs(self.timezone) - hh) * 60))
            parsed = F.to_utc_timestamp(parsed, f"GMT{sign}{hh:02d}:{mm:02d}")
        return parsed

    def compile(self, value, dtype, ctx, key) -> Step:
        if isinstance(dtype, T.TimestampType):
            return Step(value=value, dtype=dtype)
        if isinstance(dtype, T.DateType):
            return Step(
                value=value.cast("timestamp"), dtype=T.TimestampType()
            )
        if not isinstance(dtype, T.StringType):
            raise CompileError(f"Datetime cannot parse column type {dtype}")
        if not self.strict:
            res, pre = call_kernel(
                ctx, "kdatetime", elementwise(self._scalar), self._kernel_type,
                value,
            )
            code = res["code"]
            return Step(
                value=res["value"],
                dtype=self._kernel_type,
                invalid=code.isNotNull(),
                violations=[
                    Violation(
                        code == F.lit(self._code),
                        F.lit(self._code),
                        F.lit(self.render(self._code)),
                    ),
                    Violation(
                        code == F.lit(CODE_EXCEPTION),
                        F.lit(CODE_EXCEPTION),
                        F.lit(MSG_EXCEPTION),
                    ),
                ],
                pre=pre,
            )
        parsed = self._parse_string(value)
        inv = parsed.isNull()
        return Step(
            value=parsed,
            dtype=T.TimestampType(),
            invalid=inv,
            violations=[
                Violation(inv, F.lit(self._code), F.lit(self.render(self._code)))
            ],
        )

    def __repr__(self):
        return f"{type(self).__name__}(timezone={self.timezone!r}, naive={self.naive!r})"


class Date(Datetime):
    """Datetime, then take the UTC date (``simple.py:339-362``) — the UTC
    conversion may shift the calendar day, by design (docstring
    :342-346)."""

    templates = {CODE_NOT_DATE: "This value does not appear to be a date."}
    _code = CODE_NOT_DATE
    _kernel_type = T.DateType()

    def _scalar(self, x):
        if isinstance(x, date) and not isinstance(x, datetime):
            return x, None
        v, code = super()._scalar(x)
        return (v.date() if v is not None else None), code

    def compile(self, value, dtype, ctx, key) -> Step:
        if isinstance(dtype, T.DateType):
            return Step(value=value, dtype=dtype)
        step = super().compile(
            value, dtype, ctx, key
        ) if isinstance(dtype, (T.TimestampType, T.StringType)) else None
        if step is None:
            raise CompileError(f"Date cannot parse column type {dtype}")
        if not self.strict and isinstance(dtype, T.StringType):
            return step  # kernel already returns dates when strict=False
        return Step(
            value=step.value.cast("date"),
            dtype=T.DateType(),
            invalid=step.invalid,
            violations=step.violations,
            pre=step.pre,
        )
