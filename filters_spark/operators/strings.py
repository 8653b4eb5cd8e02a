"""String specs (``string.py``) — the heart of the reference library.

JVM-side (whole-stage codegen) wherever Java/Spark semantics match the
reference exactly: ``Strip`` (Java regex supports ``\\p{C}``), ``Regex``,
``Split``, ``Choice``, ``MaxChars``, ``Base64Decode``, ``Uuid``, IPv4.

Arrow pandas kernels where only Python semantics will do: ``Unicode``
(NFC + ``regex``-lib ``[^\\P{C}\\s]+`` strip — same lib as the reference),
``CaseFold`` (``str.casefold`` ≠ ``lower``), ``MaxBytes`` truncation
(codepoint-safe byte walk), ``TomlDecode``, IPv6 canonicalisation.
"""

from __future__ import annotations

import decimal as py_decimal
import json
import unicodedata

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:
    import regex as _regex_lib  # same lib as the reference (string.py:50)
except ImportError:  # pragma: no cover
    _regex_lib = None

from filters_spark.core.arrow import call_kernel, elementwise
from filters_spark.core.spec import (
    CODE_EXCEPTION,
    MSG_EXCEPTION,
    BaseSpec,
    CompileError,
    Step,
    Violation,
)

# -- codes (string.py) ------------------------------------------------------
CODE_NOT_BASE64 = "not_base64"  # :41
CODE_NOT_VALID_CHOICE = "not_valid_choice"  # :140
CODE_NOT_IP = "not_ip_address"  # :199
CODE_NOT_JSON = "not_json"  # :276
CODE_TOO_LONG = "too_long"  # :312, :521
CODE_MALFORMED = "malformed"  # :611
CODE_NOT_TOML = "not_toml"  # :786
CODE_WRONG_ENCODING = "wrong_encoding"  # :817
CODE_NOT_UUID = "not_uuid"  # :983
CODE_WRONG_VERSION = "wrong_version"  # :984


def _is_stringy(dtype) -> bool:
    return isinstance(dtype, (T.StringType, T.BinaryType))


def _require_string(dtype, spec) -> None:
    if not isinstance(dtype, T.StringType):
        raise CompileError(
            f"{type(spec).__name__} needs a string column, got {dtype}"
        )


def _kernel_step(
    spec, value: Column, ctx, out_type: T.DataType, scalar_fn, code_messages: dict
) -> Step:
    """Build a Step around one Arrow kernel producing struct<value,code>."""
    res, pre = call_kernel(
        ctx, "k" + type(spec).__name__.lower(), elementwise(scalar_fn), out_type,
        value,
    )
    code = res["code"]
    violations = [
        Violation(code == F.lit(c), F.lit(c), F.lit(m))
        for c, m in code_messages.items()
    ]
    violations.append(
        Violation(
            code == F.lit(CODE_EXCEPTION),
            F.lit(CODE_EXCEPTION),
            F.lit(MSG_EXCEPTION),
        )
    )
    return Step(
        value=res["value"],
        dtype=out_type,
        invalid=code.isNotNull(),
        violations=violations,
        pre=pre,
    )


# -- Unicode ---------------------------------------------------------------


def _strip_nonprintables(s: str) -> str:
    """Remove ``[^\\P{C}\\s]+`` — non-whitespace control/format/unassigned
    chars (string.py:853)."""
    if _NPR is not None:
        return _NPR.sub("", s)
    return "".join(
        ch for ch in s if not (unicodedata.category(ch)[0] == "C" and not ch.isspace())
    )


_NPR = _regex_lib.compile(r"[^\P{C}\s]+", _regex_lib.UNICODE) if _regex_lib else None

#: full-string "fixpoint" detector for the Unicode normalize pipeline:
#: printable ASCII + tab/LF has nothing to strip (tab/LF are whitespace,
#: excluded from ``[^\P{C}\s]``), is NFC-invariant, and contains no CR —
#: so normalise(x) == x and the whole row skips Python-per-element work.
import re as _re

_UNICODE_FASTSAFE = _re.compile(r"[\x20-\x7e\t\n]*\Z")


class Unicode(BaseSpec):
    """Decode + normalise text (``string.py:804-911``) — the north-star
    per-turn text-equality operator.

    normalize=True (default): strip non-printables (``[^\\P{C}\\s]+``),
    NFC-compose, normalise CRLF/CR → LF — exactly the reference pipeline
    (:853, :901, :908), in the same order.

    Arrow kernel: no Spark builtin does NFC.  Fast path inside the kernel:
    ``unicodedata.is_normalized`` check before normalising.
    """

    templates = {
        CODE_WRONG_ENCODING: "This value cannot be decoded using {encoding}."
    }

    def __init__(self, encoding: str = "utf-8", normalize: bool = True) -> None:
        self.encoding = encoding
        self.normalize = normalize

    def _convert(self, x):
        """Mirror the reference's type dispatch (string.py:855-880)."""
        if isinstance(x, str):
            return x
        if isinstance(x, (bytes, bytearray)):
            return bytes(x).decode(self.encoding)
        if isinstance(x, (bool, np.bool_)):
            return str(int(x))
        if isinstance(x, py_decimal.Decimal):
            return format(x, "f")
        return str(x)

    def scalar(self, x):
        try:
            decoded = self._convert(x)
        except UnicodeDecodeError:
            return None, CODE_WRONG_ENCODING
        if not self.normalize:
            return decoded, None
        stripped = _strip_nonprintables(decoded)
        if not unicodedata.is_normalized("NFC", stripped):
            stripped = unicodedata.normalize("NFC", stripped)
        return stripped.replace("\r\n", "\n").replace("\r", "\n"), None

    def _string_batch(self, s):
        """Vectorized batch kernel for a known-string column: a C-speed
        regex scan splits the batch into fixpoint rows (returned as-is)
        and rows that need the exact per-element pipeline.  On ASCII-
        dominant corpora this removes ~all Python-per-element work while
        keeping byte-exact parity (the slow path is unchanged)."""
        import pandas as pd

        null = s.isna()
        # `== True` instead of fillna(False): str.match yields object
        # dtype with NaN for nulls, and fillna-downcasting is deprecated
        fast = (s.str.match(_UNICODE_FASTSAFE.pattern) == True) & ~null  # noqa: E712
        out = s.copy()
        slow = ~null & ~fast
        if slow.any():
            out[slow] = s[slow].map(lambda x: self.scalar(x)[0])
        out[null] = None
        codes = pd.Series([None] * len(s), index=s.index, dtype=object)
        return pd.DataFrame({"value": out, "code": codes})

    def compile(self, value, dtype, ctx, key) -> Step:
        if isinstance(dtype, T.StringType) and not self.normalize:
            # str → str without normalisation is the identity
            # (string.py:855-856): no kernel, stays in codegen
            return Step(value=value, dtype=T.StringType())
        if isinstance(dtype, T.StringType) and self.normalize:
            # str input can't hit wrong_encoding/exception → code is
            # always null; violations list may stay (never fires)
            res, pre = call_kernel(
                ctx, "kunicode", self._string_batch, T.StringType(), value
            )
            return Step(
                value=res["value"],
                dtype=T.StringType(),
                invalid=res["code"].isNotNull(),
                violations=[],
                pre=pre,
            )
        return _kernel_step(
            self,
            value,
            ctx,
            T.StringType(),
            self.scalar,
            {
                CODE_WRONG_ENCODING: self.render(
                    CODE_WRONG_ENCODING, encoding=self.encoding
                )
            },
        )

    def __repr__(self):
        return f"Unicode(encoding={self.encoding!r})"


class ByteString(Unicode):
    """Unicode, then encode to bytes (``string.py:914-973``)."""

    def __init__(self, encoding: str = "utf-8", normalize: bool = False) -> None:
        super().__init__(encoding=encoding, normalize=normalize)

    def scalar(self, x):
        v, code = super().scalar(x)
        return (v.encode(self.encoding) if v is not None else None), code

    def compile(self, value, dtype, ctx, key) -> Step:
        step = _kernel_step(
            self,
            value,
            ctx,
            T.BinaryType(),
            self.scalar,
            {
                CODE_WRONG_ENCODING: self.render(
                    CODE_WRONG_ENCODING, encoding=self.encoding
                )
            },
        )
        return step


class CaseFold(BaseSpec):
    """``str.casefold()`` (``string.py:99-125``).  NOT ``F.lower`` —
    casefold maps e.g. ß→ss; Arrow kernel for parity."""

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        return _kernel_step(
            self, value, ctx, T.StringType(), lambda x: (x.casefold(), None), {}
        )


class Strip(BaseSpec):
    """Regex-strip both ends; whitespace + non-printables by default
    (``string.py:724-780``).

    JVM-side: Java regex supports single-letter Unicode categories, so the
    default ``[\\p{C}\\s]+`` runs in whole-stage codegen.  Patterns are
    compiled with the embedded ``(?U)`` (UNICODE_CHARACTER_CLASS) flag:
    the reference's ``regex`` lib gives ``\\s`` Unicode White_Space
    semantics (NBSP, ogham space, ideographic space, ...), which Java's
    default ASCII ``\\s`` misses — found by the fuzzed parity suite on
    ``'\\xa0'``.  Custom patterns are passed through in Java syntax
    (under the same flag).
    """

    def __init__(
        self,
        leading: str = r"[\p{C}\s]+",
        trailing: str = r"[\p{C}\s]+",
    ) -> None:
        self.leading = leading
        self.trailing = trailing

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        out = value
        if self.leading:
            out = F.regexp_replace(out, f"(?U)^(?:{self.leading})", "")
        if self.trailing:
            out = F.regexp_replace(out, f"(?U)(?:{self.trailing})$", "")
        return Step(value=out, dtype=T.StringType())

    def __repr__(self):
        return f"Strip(leading={self.leading!r}, trailing={self.trailing!r})"


def _java_regex_ok(pattern: str) -> bool:
    """True when the JVM's ``java.util.regex`` accepts ``pattern``.

    The live probe catches regex-module-only syntax (fuzzy ``{e<=1}``,
    recursion ``(?R)``, some ``\\p{...}`` property spellings) that Java
    rejects at compile time; those chains route through the Arrow kernel
    using the same ``regex`` lib as the reference (string.py:50).
    Without an active session (no JVM to ask) the JVM path is assumed —
    matching the previous behaviour.
    """
    if pattern in _JAVA_REGEX_CACHE:
        return _JAVA_REGEX_CACHE[pattern]
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None or getattr(s, "_jvm", None) is None:
        return True  # Spark Connect / no JVM: keep the expression path
    try:
        s._jvm.java.util.regex.Pattern.compile(pattern)
        ok = True
    except Exception:
        ok = False
    _JAVA_REGEX_CACHE[pattern] = ok
    return ok


_JAVA_REGEX_CACHE: dict[str, bool] = {}


def _as_regex(pattern):
    """Compile a pattern string / precompiled pattern with the ``regex``
    lib (the reference also accepts precompiled patterns,
    string.py:636-640)."""
    if _regex_lib is None:  # pragma: no cover
        raise CompileError(
            "this pattern needs the 'regex' library, which is unavailable"
        )
    if isinstance(pattern, str):
        return _regex_lib.compile(pattern)
    return _regex_lib.compile(pattern.pattern, pattern.flags)


class Regex(BaseSpec):
    """Return a LIST of all regex matches; no match → invalid
    (``string.py:595-662``, finditer at :651).

    JVM ``regexp_extract_all`` with ``(?U)`` when Java accepts the
    pattern; otherwise (regex-module-only syntax, or a precompiled
    ``regex``/``re`` pattern object) an Arrow kernel running the same
    ``regex`` lib as the reference.
    """

    templates = {
        CODE_MALFORMED: "Value does not match regular expression {pattern}."
    }

    def __init__(self, pattern) -> None:
        self.pattern = pattern

    def _pattern_str(self) -> str:
        return (
            self.pattern
            if isinstance(self.pattern, str)
            else self.pattern.pattern
        )

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        use_jvm = isinstance(self.pattern, str) and _java_regex_ok(
            f"(?U){self.pattern}"
        )
        msg = self.render(CODE_MALFORMED, pattern=self._pattern_str())
        if use_jvm:
            # (?U): the reference's regex lib gives \d\w\s\b Unicode
            # semantics; Java defaults to ASCII classes (see Strip)
            matches = F.regexp_extract_all(
                value, F.lit(f"(?U){self.pattern}"), 0
            )
            inv = F.size(matches) == 0
            return Step(
                value=F.when(inv, F.lit(None)).otherwise(matches),
                dtype=T.ArrayType(T.StringType()),
                invalid=inv,
                violations=[
                    Violation(inv, F.lit(CODE_MALFORMED), F.lit(msg))
                ],
            )
        rx = _as_regex(self.pattern)

        def scalar(x):
            found = [m.group(0) for m in rx.finditer(x)]
            if not found:
                return None, CODE_MALFORMED
            return found, None

        return _kernel_step(
            self,
            value,
            ctx,
            T.ArrayType(T.StringType()),
            scalar,
            {CODE_MALFORMED: msg},
        )

    def __repr__(self):
        return f"Regex({self._pattern_str()!r})"


class Split(BaseSpec):
    """Regex split; with ``keys`` the result becomes a map (reference
    returns ``dict(zip_longest(keys, split))``, ``string.py:665-721``) and
    length > len(keys) is ``too_long`` via a nested MaxLength (:714).

    Same engine dispatch as :class:`Regex`: JVM split when Java accepts
    the pattern, Arrow ``regex``-lib kernel otherwise (or for
    precompiled pattern objects).
    """

    templates = {CODE_TOO_LONG: "Value is too long (length must be < {max})."}

    def __init__(self, pattern, keys=None) -> None:
        self.pattern = pattern
        self.keys = list(keys) if keys else None

    def _pattern_str(self) -> str:
        return (
            self.pattern
            if isinstance(self.pattern, str)
            else self.pattern.pattern
        )

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        use_jvm = isinstance(self.pattern, str) and _java_regex_ok(
            f"(?U){self.pattern}"
        )
        if not use_jvm:
            return self._compile_kernel(value, ctx)
        # (?U): Unicode \s\d\w semantics, matching the reference (see Strip)
        parts = F.split(value, f"(?U){self.pattern}", -1)
        if not self.keys:
            return Step(value=parts, dtype=T.ArrayType(T.StringType()))
        n = len(self.keys)
        too_long = F.size(parts) > n
        padded = F.slice(
            F.concat(parts, F.array_repeat(F.lit(None).cast("string"), n)), 1, n
        )
        mapped = F.map_from_arrays(
            F.array(*[F.lit(k) for k in self.keys]), padded
        )
        return Step(
            value=F.when(too_long, F.lit(None)).otherwise(mapped),
            dtype=T.MapType(T.StringType(), T.StringType()),
            invalid=too_long,
            violations=[
                Violation(
                    too_long,
                    F.lit(CODE_TOO_LONG),
                    F.lit(self.render(CODE_TOO_LONG, max=n)),
                )
            ],
        )

    def _compile_kernel(self, value, ctx) -> Step:
        rx = _as_regex(self.pattern)
        keys = self.keys
        if not keys:
            return _kernel_step(
                self,
                value,
                ctx,
                T.ArrayType(T.StringType()),
                lambda x: (rx.split(x), None),
                {},
            )
        n = len(keys)

        def scalar(x):
            parts = rx.split(x)
            if len(parts) > n:
                return None, CODE_TOO_LONG
            return dict(zip(keys, parts + [None] * (n - len(parts)))), None

        return _kernel_step(
            self,
            value,
            ctx,
            T.MapType(T.StringType(), T.StringType()),
            scalar,
            {CODE_TOO_LONG: self.render(CODE_TOO_LONG, max=n)},
        )

    def __repr__(self):
        return f"Split({self._pattern_str()!r}, keys={self.keys!r})"


class Choice(BaseSpec):
    """Membership in an allowed set; returns the *canonical* choice
    (case-insensitive input maps back to the original casing,
    ``string.py:128-193``)."""

    templates = {CODE_NOT_VALID_CHOICE: "Valid options are: {choices}"}

    def __init__(self, choices, case_sensitive: bool = True) -> None:
        choices = list(choices)
        if not choices:
            raise ValueError("Choice requires at least one option")
        self.case_sensitive = case_sensitive
        # choice_map mirrors string.py:163-171: folded → canonical
        self.choice_map = {}
        for c in choices:
            if case_sensitive or not isinstance(c, str):
                self.choice_map[c] = c
            else:
                self.choice_map[c.casefold()] = c

    def compile(self, value, dtype, ctx, key) -> Step:
        lookup_key = value
        if not self.case_sensitive and isinstance(dtype, T.StringType):
            # F.lower == str.casefold for the overwhelmingly common case;
            # if any folded choice differs from its lower() form (ß etc.),
            # fall back to an exact casefold kernel.
            if all(
                isinstance(k, str) and k == k.lower() == k.casefold()
                for k in self.choice_map
            ):
                lookup_key = F.lower(value)
            else:
                # exact casefold via kernel (rare path)
                res, pre = call_kernel(
                    ctx,
                    "kchoicefold",
                    elementwise(lambda x: (x.casefold(), None)),
                    T.StringType(),
                    value,
                )
                return self._finish(res["value"], value, dtype, pre)
        return self._finish(lookup_key, value, dtype, {})

    def _finish(self, lookup_key, value, dtype, pre) -> Step:
        flat = []
        for k, v in self.choice_map.items():
            flat.extend([F.lit(k), F.lit(v)])
        canon_map = F.create_map(*flat)
        canonical = F.element_at(canon_map, lookup_key)
        inv = canonical.isNull()
        choices_repr = str(sorted(map(str, self.choice_map.values())))
        msg = self.render(CODE_NOT_VALID_CHOICE, choices=choices_repr)
        return Step(
            value=canonical,
            dtype=dtype,
            invalid=inv,
            violations=[
                Violation(inv, F.lit(CODE_NOT_VALID_CHOICE), F.lit(msg))
            ],
            pre=pre,
        )

    def __repr__(self):
        return f"Choice({sorted(map(str, self.choice_map.values()))!r})"


class MaxChars(BaseSpec):
    """Character-count cap with optional truncation + prefix/suffix inside
    the budget (``string.py:514-592``; edge cases :573-582)."""

    templates = {
        CODE_TOO_LONG: "Value is too long (must be < {max_chars} characters)."
    }

    def __init__(
        self,
        max_chars: int,
        truncate: bool = False,
        prefix: str = "",
        suffix: str = "",
    ) -> None:
        if max_chars < 1:
            raise ValueError("max_chars must be >= 1")
        self.max_chars = max_chars
        self.truncate = truncate
        self.prefix = prefix
        self.suffix = suffix

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        over = F.length(value) > self.max_chars
        if self.truncate:
            target = self.max_chars - len(self.suffix)
            if target < 0:
                cut = F.lit(self.suffix[0 : self.max_chars])
            else:
                cut = F.concat(
                    F.substring(
                        F.concat(F.lit(self.prefix), value), 1, target
                    ),
                    F.lit(self.suffix),
                )
            return Step(
                value=F.when(over, cut).otherwise(value), dtype=T.StringType()
            )
        return Step(
            value=value,
            dtype=T.StringType(),
            invalid=over,
            violations=[
                Violation(
                    over,
                    F.lit(CODE_TOO_LONG),
                    F.lit(self.render(CODE_TOO_LONG, max_chars=self.max_chars)),
                )
            ],
        )


class MaxBytes(BaseSpec):
    """Byte-length cap after encoding, preceded by Unicode normalisation
    (the reference chains ``Type | Unicode(encoding=...)`` first,
    ``string.py:376-383``); truncation never splits a codepoint
    (:447-511).  Result is always ``bytes``.

    One Arrow kernel for the whole pipeline (normalise → encode → check /
    truncate) — single JVM↔Python crossing.
    """

    templates = {
        CODE_TOO_LONG: "Value is too long (must be < {max_bytes} "
        "bytes when encoded using {encoding})."
    }

    def __init__(
        self,
        max_bytes: int,
        truncate: bool = False,
        prefix: str = "",
        suffix: str = "",
        encoding: str = "utf-8",
    ) -> None:
        if max_bytes < 1:
            raise ValueError("max_bytes must be >= 1")
        self.max_bytes = max_bytes
        self.truncate = truncate
        self.prefix = prefix
        self.suffix = suffix
        self.encoding = encoding
        self._unicode = Unicode(encoding=encoding, normalize=True)

    def _truncate_bytes(self, bytes_value: bytes) -> bytes:
        """Reimplements truncate_bytes semantics (string.py:405-511):
        BOM-aware prefix insertion, suffix inside the budget, never
        orphan a multibyte sequence."""
        if len(bytes_value) <= self.max_bytes:
            return bytes_value
        bom = len("".encode(self.encoding))
        if self.prefix:
            bytes_value = (
                bytes_value[0:bom]
                + self.prefix.encode(self.encoding)[bom:]
                + bytes_value[bom:]
            )
        encoded_suffix = (
            self.suffix.encode(self.encoding)[bom:] if self.suffix else b""
        )
        target_bytes = self.max_bytes - len(encoded_suffix)
        if target_bytes < 1:
            return b""
        if len(bytes_value) > target_bytes:
            if self.encoding.lower() in ("utf-8", "utf8"):
                # decode-with-ignore drops the partial trailing sequence
                # — equivalent to the reference's utf-8 byte-walk
                # (string.py:447-487), fuzz-verified
                cut = bytes_value[:target_bytes]
                bytes_value = cut.decode(
                    self.encoding, errors="ignore"
                ).encode(self.encoding)
            else:
                # generic codecs: the reference's exact chop loop
                # (string.py:489-511) INCLUDING its raise-when-nothing-
                # decodes edge (trim reaches target without success →
                # ValueError → catch-all 'exception' code); fuzz found
                # the ignore-decode shortcut diverging here (utf-16
                # budget too small for one code unit)
                trim = 0
                while True:
                    cut = bytes_value[: target_bytes - trim]
                    try:
                        cut.decode(self.encoding)
                    except UnicodeDecodeError:
                        trim += 1
                    else:
                        bytes_value = bytes(cut)
                        break
                    if trim >= target_bytes:
                        raise ValueError(
                            f"Unable to truncate {bytes_value!r} to "
                            f"{target_bytes} bytes when encoded using "
                            f"{self.encoding}."
                        )
        return bytes_value + encoded_suffix

    def scalar(self, x):
        v, code = self._unicode.scalar(x)
        if code is not None:
            return None, code
        b = v.encode(self.encoding)
        if self.truncate:
            return self._truncate_bytes(b), None
        if len(b) > self.max_bytes:
            return None, CODE_TOO_LONG
        return b, None

    def compile(self, value, dtype, ctx, key) -> Step:
        return _kernel_step(
            self,
            value,
            ctx,
            T.BinaryType(),
            self.scalar,
            {
                CODE_TOO_LONG: self.render(
                    CODE_TOO_LONG,
                    max_bytes=self.max_bytes,
                    encoding=self.encoding,
                ),
                CODE_WRONG_ENCODING: Unicode.templates[
                    CODE_WRONG_ENCODING
                ].format(encoding=self.encoding),
            },
        )


class Base64Decode(BaseSpec):
    """Base64 decode with the reference's exact pre-checks AND its
    exact decode semantics (``string.py:38-96``): strip whitespace,
    alphabet check, reject mixed std/URL-safe dialects, strip trailing
    ``=``, re-pad to a multiple of 4, then decode with CPython's
    NON-STRICT ``binascii.a2b_base64`` state machine — which the
    reference inherits via ``b64decode``.  Fully JVM-side.

    The non-strict scanner (fuzz-derived, 23 probe cases pinned):
    ``=`` at quad position 0/1 is IGNORED; at position 2 it counts as
    padding (two of them end the decode); at position 3 one ends the
    decode; everything after the terminating padding is DISCARDED; a
    scan ending at quad position 1 ("1 more than a multiple of 4") or
    ending at position 2/3 without enough padding ("Incorrect
    padding") raises — surfacing as the catch-all ``exception`` code.
    That scanner is expressed here as a quad-structured regex: legal
    non-terminating quads are ``=*D=*D=?DD`` (D = one data char); the
    remainder after the maximal quad prefix classifies the outcome.
    """

    templates = {CODE_NOT_BASE64: "Base64-encoded value expected."}

    #: one base64 data char, both dialects (mixed already rejected)
    _D = "[A-Za-z0-9+/_-]"

    def compile(self, value, dtype, ctx, key) -> Step:
        if not _is_stringy(dtype):
            raise CompileError(f"Base64Decode needs string/binary, got {dtype}")
        D = self._D
        s = value if isinstance(dtype, T.StringType) else value.cast("string")
        s = F.regexp_replace(s, "[ \\t\\r\\n]+", "")
        bad_alphabet = ~s.rlike("^[-+_/A-Za-z0-9=]+$")
        url_safe = s.contains("_") | s.contains("-")
        mixed = url_safe & (s.contains("+") | s.contains("/"))
        # reference repad: strip ALL trailing '=', append 4 - len % 4
        # (yes, 4 when already a multiple — harmless under non-strict)
        stripped = F.regexp_replace(s, "=+$", "")
        pad = F.lit(4) - F.length(stripped) % 4
        padded = F.concat(stripped, F.repeat(F.lit("="), pad))
        # maximal prefix of legal NON-terminating quads: within a quad,
        # '=' is ignored at positions 0/1, at most one at position 2,
        # none at position 3 (more would terminate the scan)
        quads = F.regexp_extract(padded, f"^((?:=*{D}=*{D}=?{D}{D})*)", 1)
        rem = F.substring(padded, F.length(quads) + 1, F.length(padded))
        # terminator classification of the remainder (mutually
        # exclusive by construction; anything else raises upstream)
        done_q3 = rem.rlike(f"^=*{D}=*{D}=?{D}=")  # pad at quad pos 3
        done_q2 = rem.rlike(f"^=*{D}=*{D}==")      # two pads at pos 2
        end_q0 = rem.rlike("^=*$")                 # clean end
        extra = (
            F.when(done_q3, F.lit(3))
            .when(done_q2, F.lit(2))
            .otherwise(F.lit(0))
        )
        # consumed data chars: all of the quad prefix + the remainder's
        # first `extra` (the discarded tail's data chars come after)
        data = F.concat(
            F.regexp_replace(quads, "=", ""),
            F.substring(F.regexp_replace(rem, "=", ""), 1, extra),
        )
        n4 = F.length(data) % 4  # ∈ {0, 2, 3} on the decodable paths
        final_pad = (
            F.when(n4 == 2, F.lit("=="))
            .when(n4 == 3, F.lit("="))
            .otherwise(F.lit(""))
        )
        decoded = F.unbase64(
            F.translate(F.concat(data, final_pad), "-_", "+/")
        )
        not_b64 = bad_alphabet | mixed
        # scan ended at quad pos 1, or at pos 2/3 without enough
        # padding → binascii raises in the reference → 'exception'
        exploded = ~(done_q3 | done_q2 | end_q0)
        inv = not_b64 | exploded
        return Step(
            value=F.when(inv, F.lit(None)).otherwise(decoded),
            dtype=T.BinaryType(),
            invalid=inv,
            violations=[
                Violation(
                    not_b64,
                    F.lit(CODE_NOT_BASE64),
                    F.lit(self.render(CODE_NOT_BASE64)),
                ),
                Violation(
                    ~not_b64 & exploded,
                    F.lit(CODE_EXCEPTION),
                    F.lit(MSG_EXCEPTION),
                ),
            ],
        )


_IPV4_OCTET = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_IPV4_RE = f"^{_IPV4_OCTET}(\\.{_IPV4_OCTET}){{3}}$"


class IpAddress(BaseSpec):
    """IPv4/IPv6 validation (``string.py:196-270``).  IPv4 is a strict
    dotted-quad regex (``inet_pton`` rejects leading zeros), JVM-side;
    IPv6 goes through a kernel running the SAME ``socket.inet_pton`` /
    ``inet_ntop`` calls the reference makes (:245-262) — the
    ``ipaddress`` module is a near-miss: it renders IPv4-mapped
    addresses as pure hex (``::ffff:102:304``) where ``inet_ntop``
    keeps the dotted form (``::ffff:1.2.3.4``); fuzz-found."""

    templates = {CODE_NOT_IP: "This value is not a valid {ip_type} address."}

    def __init__(self, ipv4: bool = True, ipv6: bool = False) -> None:
        self.ipv4 = ipv4
        self.ipv6 = ipv6

    @property
    def ip_type(self) -> str:
        return "/".join(
            t for t, on in [("IPv4", self.ipv4), ("IPv6", self.ipv6)] if on
        )

    def _scalar6(self, x):
        import socket

        if self.ipv4:
            try:
                socket.inet_pton(socket.AF_INET, x)
                return x, None  # valid IPv4 passes through unchanged
            except OSError:
                pass
        if self.ipv6:
            try:
                n = socket.inet_pton(socket.AF_INET6, x)
                return socket.inet_ntop(socket.AF_INET6, n), None
            except OSError:
                pass
        return None, CODE_NOT_IP

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        msg = self.render(CODE_NOT_IP, ip_type=self.ip_type)
        if not self.ipv6:
            ok = value.rlike(_IPV4_RE) if self.ipv4 else F.lit(False)
            inv = ~ok
            return Step(
                value=F.when(inv, F.lit(None)).otherwise(value),
                dtype=T.StringType(),
                invalid=inv,
                violations=[Violation(inv, F.lit(CODE_NOT_IP), F.lit(msg))],
            )
        return _kernel_step(
            self, value, ctx, T.StringType(), self._scalar6, {CODE_NOT_IP: msg}
        )

    def __repr__(self):
        return f"IpAddress(ipv4={self.ipv4!r}, ipv6={self.ipv6!r})"


class JsonDecode(BaseSpec):
    """Parse JSON (``string.py:273-302``).

    Spark is schema-first: pass ``schema`` (DDL string or DataType) to get
    a typed struct via ``from_json``; without a schema the result is a
    Spark VARIANT (``parse_json``).  Validity is detected with
    ``try_parse_json`` so bad JSON → ``not_json`` instead of nulled
    fields.
    """

    templates = {CODE_NOT_JSON: "This value is not valid JSON."}

    def __init__(self, schema: str | T.DataType | None = None) -> None:
        if callable(schema) and not isinstance(schema, T.DataType):
            # a port passing the reference's `decoder=` callable
            # positionally (string.py:282 JsonDecode(decoder=json.loads))
            raise CompileError(
                "JsonDecode takes a Spark schema (DDL string or DataType),"
                " not a decoder callable — custom Python decoders cannot"
                " run inside a column expression (DEVIATIONS.md #15);"
                " the default VARIANT parse matches json.loads on all"
                " RFC 8259 input"
            )
        self.schema = schema

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        inv = F.try_parse_json(value).isNull()
        if self.schema is not None:
            parsed = F.from_json(value, self.schema)
            out_type = (
                T._parse_datatype_string(self.schema)
                if isinstance(self.schema, str)
                else self.schema
            )
        else:
            parsed = F.parse_json(value)
            out_type = T.VariantType()
        return Step(
            value=F.when(inv, F.lit(None)).otherwise(parsed),
            dtype=out_type,
            invalid=inv,
            violations=[
                Violation(
                    inv, F.lit(CODE_NOT_JSON), F.lit(self.render(CODE_NOT_JSON))
                )
            ],
        )


class TomlDecode(BaseSpec):
    """Parse TOML (``string.py:783-801``).  No JVM TOML parser exists, so
    this is an Arrow kernel; the decoded document is returned as a JSON
    string (deviation: the reference returns a dict — Spark columns need a
    concrete type)."""

    templates = {CODE_NOT_TOML: "This value is not valid TOML."}

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)

        def scalar(x):
            import tomllib

            try:
                doc = tomllib.loads(x)
            except Exception:  # noqa: BLE001
                return None, CODE_NOT_TOML
            return json.dumps(doc, ensure_ascii=False, default=str), None

        return _kernel_step(
            self,
            value,
            ctx,
            T.StringType(),
            scalar,
            {CODE_NOT_TOML: self.render(CODE_NOT_TOML)},
        )


class Uuid(BaseSpec):
    """Parse/normalise a UUID (``string.py:976-1029``).  Mirrors Python's
    ``UUID(hex=...)`` cleanup (strip ``urn:uuid:``, braces, hyphens), then
    canonicalises to lowercase hyphenated form.  Fully JVM-side."""

    templates = {
        CODE_NOT_UUID: "This value is not a well-formed UUID.",
        CODE_WRONG_VERSION: "v{incoming} UUID not allowed (expected v{expected}).",
    }

    def __init__(self, version: int | None = None) -> None:
        self.version = version

    def compile(self, value, dtype, ctx, key) -> Step:
        _require_string(dtype, self)
        cleaned = F.lower(value)
        cleaned = F.replace(cleaned, F.lit("urn:"), F.lit(""))
        cleaned = F.replace(cleaned, F.lit("uuid:"), F.lit(""))
        cleaned = F.regexp_replace(cleaned, "^[{}]+|[{}]+$", "")
        cleaned = F.replace(cleaned, F.lit("-"), F.lit(""))
        well_formed = cleaned.rlike("^[0-9a-f]{32}$")
        canonical = F.concat_ws(
            "-",
            F.substring(cleaned, 1, 8),
            F.substring(cleaned, 9, 4),
            F.substring(cleaned, 13, 4),
            F.substring(cleaned, 17, 4),
            F.substring(cleaned, 21, 12),
        )
        # Python's UUID.version is None unless the variant is RFC 4122
        # (clock_seq_hi top bits 10xx → first hex of group 4 in [89ab])
        rfc4122 = F.substring(cleaned, 17, 1).rlike("^[89ab]$")
        version_digit = F.when(
            rfc4122, F.conv(F.substring(cleaned, 13, 1), 16, 10)
        ).otherwise(F.lit("None"))
        wrong_version = (
            F.lit(False)
            if self.version is None
            else well_formed & (version_digit != F.lit(str(self.version)))
        )
        inv = ~well_formed | wrong_version
        violations = [
            Violation(
                ~well_formed,
                F.lit(CODE_NOT_UUID),
                F.lit(self.render(CODE_NOT_UUID)),
            )
        ]
        if self.version is not None:
            violations.append(
                Violation(
                    wrong_version,
                    F.lit(CODE_WRONG_VERSION),
                    F.format_string(
                        "v%s UUID not allowed (expected v%s).",
                        version_digit,
                        F.lit(str(self.version)),
                    ),
                )
            )
        return Step(
            value=F.when(inv, F.lit(None)).otherwise(canonical),
            dtype=T.StringType(),
            invalid=inv,
            violations=violations,
        )

    def __repr__(self):
        return f"Uuid(version={self.version!r})"
