"""The exact parse regex and the token codecs.

``CORE_PATTERN`` reproduces the reference's cursor-parser semantics
(c/main.c:47-114,407-455) byte-for-byte with ONE anchored regex per line.
It is the EXACT (fallback) tier of the engine parser,
``arrow_parser.parse_sequences_arrow``, for lines the RE2 strict tier does
not take; ``oracle.py`` is the semantic reference both are fuzzed against.

Why the regex is exactly equivalent to the C combinators:

- ``parse_item_trim_space(cond)`` = skip spaces, maximal run of cond-chars
  (>=1), then the terminating char is unconditionally consumed, then spaces
  are skipped.  We encode that as the ATOMIC group
  ``(?> *([class]+)(?:[\\s\\S]|$)) *`` — atomicity (Python>=3.11 / Java
  regex) forbids the backtracking that would otherwise let the engine accept
  lines the C parser rejects (e.g. ``... 123"ref" ...`` where C consumes the
  opening quote as the run terminator and then fails).
- ``parse_item_wrap_string(l, r)`` = skip spaces, require ``l``, memchr to
  the FIRST ``r`` (no escape handling). ``(?> *\\[([^\\]]*)\\])`` has
  identical semantics: a negated character class IS memchr.
- remote_user's leading ``-``-run skip (c/main.c:125-128) is ``-*+``
  (possessive — a backtrackable ``-*`` would accept ``1.2.3.4 - -[t] ...``
  which C rejects).
- the 3-digit status gate (c/main.c:433-437) cannot live in the regex
  (C parses the FULL digit run first, so ``2004`` must reject the line, not
  re-split into ``200`` + ``4``); it is applied to the extracted run.

Rows have NO trailing newline (the reference's fgets keeps one, but for
accepted lines the final field closes before it, so acceptance and all field
values are identical).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# one trim_space field: atomic(spaces, run, consumed terminator), then the
# unconditional trailing-space skip (possessive — C never backtracks it)
def _ts(cls: str) -> str:
    return rf"(?> *([{cls}]+)(?:[\s\S]|$)) *+"


def _wrap(left: str, right: str, not_right: str) -> str:
    return rf"(?> *{left}([^{not_right}]*){right})"


CORE_PATTERN = (
    "^"
    + _ts("0-9:.a-f")  # 1 remote_addr (chars 48-58 + '.' + a-f, c/main.c:24-27)
    + "-*+"  # remote_user: skip '-' run BEFORE spaces (c/main.c:125-128)
    + _ts("^ ")  # 2 remote_user (not_space)
    + _wrap(r"\[", r"\]", r"\]")  # 3 time_local
    + _wrap('"', '"', '"')  # 4 request
    + _ts("0-9")  # 5 status (len==3 checked post-hoc)
    + _ts("0-9")  # 6 body_bytes_sent
    + _wrap('"', '"', '"')  # 7 http_referer
    + _wrap('"', '"', '"')  # 8 http_user_agent
    + _wrap('"', '"', '"')  # 9 http_x_forwarded_for
)

_CORE_RE = re.compile(CORE_PATTERN)

PARSED_FIELDS = [
    ("remote_addr", T.StringType()),
    ("remote_user", T.StringType()),
    ("time_local", T.StringType()),
    ("request", T.StringType()),
    ("status", T.StringType()),
    ("body_bytes_sent", T.LongType()),
    ("http_referer", T.StringType()),
    ("http_user_agent", T.StringType()),
    ("http_x_forwarded_for", T.StringType()),
    ("valid", T.BooleanType()),
]


# ---------------------------------------------------------------------------
# token decode: array<int32> of UTF-8 bytes -> latin-1 string (1 byte = 1 char,
# lossless; parsing is byte-oriented exactly like the reference)
# ---------------------------------------------------------------------------


def _tokens_to_lines(tok: pd.Series) -> pd.Series:
    vals = tok.to_numpy()
    n = len(vals)
    if n == 0:
        return pd.Series([], dtype=object, index=tok.index)
    lens = np.fromiter((len(a) for a in vals), dtype=np.int64, count=n)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    if offs[-1] == 0:
        return pd.Series([""] * n, index=tok.index, dtype=object)
    flat = np.concatenate([np.asarray(a) for a in vals]).astype(np.uint8)
    buf = flat.tobytes().decode("latin-1")
    return pd.Series(
        [buf[offs[i] : offs[i + 1]] for i in range(n)], index=tok.index, dtype=object
    )


@F.pandas_udf(T.StringType())
def decode_tokens(tok: pd.Series) -> pd.Series:
    """array<int32> byte tokens -> string column (latin-1, lossless)."""
    return _tokens_to_lines(tok)


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def encode_lines(lines: pd.Series) -> pd.Series:
    """string -> array<int32> byte tokens (inverse of decode_tokens)."""
    enc = lines.str.encode("latin-1")
    return enc.map(lambda b: np.frombuffer(b, dtype=np.uint8).astype(np.int32))
