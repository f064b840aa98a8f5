"""Seeded fixture generator for the benchmark.

Writes, from one process and with numpy/pyarrow only, the two inputs a
workload can read:

- ``seq/part-*.parquet``: the tokenized table ``(doc_id string,
  tokens array<int32>, n_tok int32, source string)``, one byte value per
  token;
- ``access.log``: the same lines as raw text, in ``doc_id`` order,

and returns the generator's own per-line fields with the tier each line
was built for (``strict``, ``fallback`` or ``reject``). The ground truth
(``truth.py``) is computed from those fields, never from the program
under test, and this module does not import it: a program change can
never change the inputs.

Every line is ASCII. About 5% of the valid lines separate their fields
with runs of spaces (they miss the strict tier and take the exact
fallback tier); about 1% are malformed in one of three ways the
reference parser rejects (truncated inside the time field, a missing
opening quote on the request, a two-digit status).
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2
N_FILES = 8  # parquet files per table; Spark reads one split per file here
MALFORMED_SHARE = 0.01
MULTISPACE_SHARE = 0.05
T0 = 1_760_000_000  # 2025-10-09 08:53:20 UTC

# Shape of the traffic. "zipf": a busy server (every line within 20
# minutes, so many lines share each second), Zipf-skewed IP/URI/UA/proxy
# pools, so per-partition partial aggregates collapse several-fold.
# "wide": bot/scanner traffic, a unique query string per request, ~4M
# addresses and a 48 h span, so partial aggregates stay about row-sized.
PROFILES = {
    "zipf": dict(ip_pool=3_000, ip_alpha=1.1, uri_pool=3_000, uri_alpha=1.2, xff_pool=500,
                 span_s=20 * 60, unique_query=False, ua_kind="browser",
                 status=(("200", .80), ("304", .06), ("301", .03), ("404", .06),
                         ("500", .02), ("502", .015), ("503", .015)),
                 ref_dash=0.4),
    "wide": dict(ip_space=1 << 22, uri_pool=400, uri_alpha=0.8,
                 span_s=48 * 3600, unique_query=True, ua_kind="bot",
                 status=(("200", .40), ("404", .45), ("403", .05), ("301", .05),
                         ("500", .03), ("400", .02)),
                 ref_dash=0.9),
}

_METHODS = (("GET", .85), ("POST", .10), ("HEAD", .03), ("PUT", .02))
_SOURCES = ["web-1", "web-2", "web-3", "edge"]
_BROWSERS = [
    f"Mozilla/5.0 (X11; Linux x86_64; rv:{v}.0) Gecko/20100101 Firefox/{v}.0" for v in range(90, 120)
] + [
    f"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/{v}.0.{v * 7}.1 Safari/537.36"
    for v in range(100, 130)
] + [
    f"Mozilla/5.0 (iPhone; CPU iPhone OS 17_{v} like Mac OS X) Mobile/15E148 Safari/604.1" for v in range(20)
]
_BOTS = [
    "curl/8.5.0", "Wget/1.21.4", "python-requests/2.31.0", "Go-http-client/1.1",
    "masscan/1.3 (https://github.com/robertdavidgraham/masscan)", "zgrab/0.x",
    "Mozilla/5.0 zgrab/0.x", "Nuclei - Open-source project (github.com/projectdiscovery/nuclei)",
    "sqlmap/1.7.2#stable (https://sqlmap.org)", "Nikto/2.5.0",
] + [f"Mozilla/5.0 (compatible; Bot{k}/2.{k}; +http://bot{k}.example.net/)" for k in range(30)]


def _pick(rng: np.random.Generator, n: int, weights) -> np.ndarray:
    cdf = np.cumsum(np.asarray(weights, dtype=np.float64))
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").clip(0, len(cdf) - 1)


def _zipf(rng: np.random.Generator, n: int, size: int, alpha: float) -> np.ndarray:
    return _pick(rng, n, 1.0 / np.arange(1, size + 1) ** alpha)


def _dotted(ip: np.ndarray) -> pa.Array:
    ip = ip.astype(np.uint32)
    octets = [pc.cast(pa.array((ip >> s) & 255), pa.string()) for s in (24, 16, 8, 0)]
    return pc.binary_join_element_wise(*octets, ".")


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _take(pool, idx: np.ndarray) -> pa.Array:
    """pool[idx] as an Arrow string array, without a numpy string array."""
    return pa.array(list(pool), pa.string()).take(pa.array(idx))


def generate(profile: str, n: int, seed: int) -> pa.Table:
    """The per-line fields, the rendered line and its tier, in doc order."""
    p = PROFILES[profile]
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(PROFILES).index(profile)])

    if "ip_pool" in p:
        pool = rng.integers(0x0B000000, 0xDF000000, p["ip_pool"], dtype=np.int64)
        remote_addr = _dotted(pool).take(pa.array(_zipf(rng, n, p["ip_pool"], p["ip_alpha"])))
    else:
        remote_addr = _dotted(0x2D000000 + rng.integers(0, p["ip_space"], n, dtype=np.int64))

    users = ["-"] + [f"user{k}" for k in range(50)]
    remote_user = _take(users, np.where(rng.random(n) < 0.9, 0, rng.integers(1, 51, n)))

    ts = T0 + rng.integers(0, p["span_s"], n, dtype=np.int64)
    secs, at = np.unique(ts, return_inverse=True)  # format each distinct second once
    time_local = pc.strftime(pa.array(secs.astype("datetime64[s]")), format="%d/%b/%Y:%H:%M:%S +0000").take(at)

    method = _take([m for m, _ in _METHODS], _pick(rng, n, [w for _, w in _METHODS]))
    dirs = np.array(["api", "static", "img", "blog", "shop", "wp-admin", "cgi-bin", "user"])
    uri_pool = [f"/{dirs[k % 8]}/item{k}" + (".php" if k % 5 == 0 else "") for k in range(p["uri_pool"])]
    uri = _take(uri_pool, _zipf(rng, n, p["uri_pool"], p["uri_alpha"]))
    if p["unique_query"]:
        qid = pc.cast(pa.array(np.arange(n, dtype=np.int64) * 1_000_003 + seed * 7_919), pa.string())
        uri = _cat(uri, "?id=", qid)
    request = _cat(method, " ", uri, " HTTP/1.1")

    status = _take([c for c, _ in p["status"]], _pick(rng, n, [w for _, w in p["status"]]))
    body = np.where(rng.random(n) < 0.02, 0, rng.lognormal(8.0, 2.0, n).astype(np.int64).clip(0, 50 << 20))
    body_bytes_sent = pa.array(body.astype(np.int64))

    refs = ["-"] + [f"https://ref{k}.example.com/page/{k * 3}" for k in range(300)]
    http_referer = _take(refs, np.where(rng.random(n) < p["ref_dash"], 0, 1 + _zipf(rng, n, 300, 1.1)))
    uas = _BROWSERS if p["ua_kind"] == "browser" else _BOTS
    http_user_agent = _take(uas, _zipf(rng, n, len(uas), 1.0))
    xff_kind = rng.random(n)
    proxies = rng.integers(0x0A000000, 0x0A100000, (2, p.get("xff_pool", n)))
    xff1, xff2 = _dotted(proxies[0]), _dotted(proxies[1])
    if "xff_pool" in p:
        at = pa.array(_zipf(rng, n, p["xff_pool"], 1.0))
        xff1, xff2 = xff1.take(at), xff2.take(at)
    http_x_forwarded_for = pc.if_else(
        pa.array(xff_kind < 0.7), "-",
        pc.if_else(pa.array(xff_kind < 0.9), xff1, _cat(xff1, ", ", xff2)),
    )
    source = _take(_SOURCES, rng.integers(0, len(_SOURCES), n))

    u = rng.random(n)
    bad = u < MALFORMED_SHARE
    multi = (~bad) & (u < MALFORMED_SHARE + MULTISPACE_SHARE)
    kind = rng.integers(0, 3, n)
    sep = _take([" ", "   "], multi.astype(np.int8))
    open_q = _take(['"', ""], (bad & (kind == 1)).astype(np.int8))
    status_txt = pc.if_else(pa.array(bad & (kind == 2)), "99", status)
    line = _cat(
        remote_addr, sep, "-", sep, remote_user, sep, "[", time_local, "]", sep,
        open_q, request, '"', sep, status_txt, sep, pc.cast(body_bytes_sent, pa.string()), sep,
        '"', http_referer, '"', sep, '"', http_user_agent, '"', sep, '"', http_x_forwarded_for, '"',
    )
    truncated = _cat(remote_addr, " - ", remote_user, " [", pc.utf8_slice_codeunits(time_local, 0, 6))
    line = pc.if_else(pa.array(bad & (kind == 0)), truncated, line)
    tier = _take(["strict", "fallback", "reject"], np.where(bad, 2, multi.astype(np.int8)))

    return pa.table({
        "doc_id": _cat("d", pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()), 10, "0")),
        "remote_addr": remote_addr, "remote_user": remote_user, "time_local": time_local,
        "request": request, "status": status, "body_bytes_sent": body_bytes_sent,
        "http_referer": http_referer, "http_user_agent": http_user_agent,
        "http_x_forwarded_for": http_x_forwarded_for, "source": source,
        "ts": pa.array(ts), "line": line, "tier": tier,
    })


def tokenize(lines: pa.Array) -> pa.ListArray:
    """Each line's bytes as a list<int32> of byte values."""
    b = pc.cast(lines, pa.binary()).combine_chunks() if isinstance(lines, pa.ChunkedArray) else pc.cast(lines, pa.binary())
    offs = np.frombuffer(b.buffers()[1], dtype=np.int32)[b.offset: b.offset + len(b) + 1]
    vals = np.frombuffer(b.buffers()[2], dtype=np.uint8)[offs[0]: offs[-1]]
    return pa.ListArray.from_arrays(pa.array(offs - offs[0]), pa.array(vals.astype(np.int32)))


def write_fixture(out_dir: str, profile: str, n: int, seed: int) -> pa.Table:
    """Write seq/ and access.log into out_dir (replaced); return the fields."""
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/seq")
    t = generate(profile, n, seed)
    line = t.column("line").combine_chunks()
    seq = pa.table({
        "doc_id": t.column("doc_id"),
        "tokens": tokenize(line),
        "n_tok": pc.cast(pc.binary_length(line), pa.int32()),
        "source": t.column("source"),
    })
    step = -(-n // N_FILES)
    with ThreadPoolExecutor(4) as pool:  # pyarrow writes without the GIL
        list(pool.map(lambda i: pq.write_table(seq.slice(i * step, step), f"{tmp}/seq/part-{i:05d}.parquet"),
                      range(N_FILES)))
    text = _cat(line, "\n")
    offs = np.frombuffer(text.buffers()[1], dtype=np.int32)
    with open(f"{tmp}/access.log", "wb") as f:
        f.write(memoryview(text.buffers()[2])[offs[0]:offs[-1]])
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return t
