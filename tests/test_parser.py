"""Parser parity tests (SURVEY.md §5.1, §5.4).

The exact-tier regex (parser.CORE_PATTERN) must agree with the pure-Python
oracle of the reference's cursor combinators (c/main.c:47-114) on every
line — accepted or rejected — and with hand-frozen expectations on the
edge lines the C semantics make surprising.
"""

from __future__ import annotations

import random
import re

import pytest

from nginx_log_spark.parse import oracle
from nginx_log_spark.parse.parser import _CORE_RE

hypothesis = pytest.importorskip("hypothesis", reason="hypothesis not installed")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def regex_parse(s: str) -> dict | None:
    m = _CORE_RE.match(s)
    if not m:
        return None
    g = m.groups()
    if len(g[4]) != 3:
        return None
    keys = (
        "remote_addr remote_user time_local request status body_bytes_sent "
        "http_referer http_user_agent http_x_forwarded_for"
    ).split()
    out = dict(zip(keys, g))
    out["body_bytes_sent"] = int(out["body_bytes_sent"])
    return out


GOOD = '1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" 200 2326 "r" "Mozilla (X11)" "-"'

EDGES = {
    # (line, expected-accept) — expectations derived from c/main.c semantics
    GOOD: True,
    '2001:db8::1 - alice [t] "GET /a b HTTP/1.1" 404 0 "r" "u [x;y]" "1.2.3.4, 5.6.7.8"': True,
    '1.2.3.4   -   bob   [t]   "GET / HTTP/1.1"   301   12   "r"   "u"   "x"': True,  # multi-space
    '1.2.3.4 - - [] "" 200 0 "" "" ""': True,  # empty wrap-fields are valid
    '1.2.3.4 - - [t] "G" 503 9 "r" "u" "x" trailing junk': True,  # tail ignored
    '1.2.3.4 - --- [t] "G" 200 1 "r" "u" "x"': True,  # user dashes swallowed
    '1.2.3.4 - - [t] "GET /x\\" HTTP/1.1" 200 5 "r" "u" "x"': False,  # memchr closes at \"
    '1.2.3.4 - - [t] "G" 20 5 "r" "u" "x"': False,  # 2-digit status
    '1.2.3.4 - - [t] "G" 2004 5 "r" "u" "x"': False,  # 4-digit status
    '1.2.3.4 - - [t] "G" 200 123"r" "u" "x"': False,  # quote consumed as terminator
    '1.2.3.4 - -[t] 200 1 "r" "u" "x"': False,  # '[t]' glued into user
    '1.2.3.4- - [t] "G" 200 1 "r" "u" "x"': False,  # dash consumed after addr
    '1.2.3.4 - - [t "G" 200 1 "r" "u" "x"': False,  # unclosed bracket
    '1.2.3.4 - - [t] "G" 200 1 "r" "u" "x': False,  # unclosed final quote
    "": False,
    " ": False,
    "MALFORMED": False,
    "1.2.3.4": False,
}


@pytest.mark.parametrize("line,accept", EDGES.items(), ids=range(len(EDGES)))
def test_edges_against_frozen_expectation(line, accept):
    assert (oracle.parse_line(line) is not None) == accept
    assert (regex_parse(line) is not None) == accept


def test_edge_values_match_oracle():
    for line in EDGES:
        assert regex_parse(line) == oracle.parse_line(line)


def test_specific_values():
    p = regex_parse(GOOD)
    assert p == {
        "remote_addr": "1.2.3.4",
        "remote_user": "-",
        "time_local": "10/Oct/2000:13:55:36 -0700",
        "request": "GET /a HTTP/1.1",
        "status": "200",
        "body_bytes_sent": 2326,
        "http_referer": "r",
        "http_user_agent": "Mozilla (X11)",
        "http_x_forwarded_for": "-",
    }


def test_random_fuzz_parity():
    rnd = random.Random(7)
    alphabet = '0123456789abcf.:- []"GETPOSu/\\xyz\n\t'
    for _ in range(20000):
        s = "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 40)))
        assert regex_parse(s) == oracle.parse_line(s), repr(s)


def test_mutation_fuzz_parity():
    rnd = random.Random(8)
    alphabet = '0123456789abcf.:- []"GETPOSu/\\xyz'
    for _ in range(20000):
        s = GOOD
        for _ in range(rnd.randint(0, 4)):
            p = rnd.randrange(len(s))
            op = rnd.random()
            if op < 0.4:
                s = s[:p] + rnd.choice(alphabet) + s[p + 1 :]
            elif op < 0.7:
                s = s[:p] + s[p + 1 :]
            else:
                s = s[:p] + rnd.choice(alphabet) + s[p:]
        assert regex_parse(s) == oracle.parse_line(s), repr(s)


@given(st.text(alphabet='0123456789abcf.:- []"GETu/\\', max_size=60))
@settings(max_examples=2000, deadline=None)
def test_hypothesis_parity(s):
    assert regex_parse(s) == oracle.parse_line(s)


def test_extended_tail_oracle():
    tail = " example.com 512 1024 10.0.0.9:8080 502 0.123 0.100 0.001 0.050"
    out = oracle.parse_extended_tail(tail, 0)
    assert out["host"] == "example.com"
    assert out["request_length"] == "512"
    assert out["upstream_addr"] == "10.0.0.9:8080"
    assert out["upstream_status"] == "502"
    assert out["upstream_header_time"] == "0.050"
    # '-' upstream: digital_or_none_end keeps scanning through non-digit-space
    out2 = oracle.parse_extended_tail(" h 1 2 - - 0.1 - - -", 0)
    assert out2["upstream_addr"] == "-"
