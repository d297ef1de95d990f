"""Network grid download — the engine's analog of the reference's
native network layer (O22, /root/reference/src/network.rs).

The reference replaces libcurl with its own HTTP client and registers
it as libproj's network callback set; what it actually guarantees is:

  * quadratic retry backoff: ``wait(retry) = retry^2 * 100 ms``, zero
    before the first retry (src/network.rs:124-131: "a value of 8
    allows up to 6400 ms of retry delay, for a cumulative total of
    25500 ms");
  * at most ``MAX_RETRIES = 8`` retries, retrying server errors
    (500..600) plus the S3-disguise codes ``{429, 500, 502, 504}``
    (src/network.rs:31-37, 141-152);
  * client errors (400..500, minus the retry codes) fail immediately
    (src/network.rs:154-160);
  * a bounded local cache so repeated transforms don't re-download —
    libproj's 300 MB default (/root/reference/src/proj.rs:417-424);
  * builder surface: ``enable_network`` / ``network_enabled`` /
    ``set_url_endpoint`` / ``get_url_endpoint`` / ``grid_cache_enable``
    (src/proj.rs:335-383).

This module mirrors those semantics over ``urllib`` with whole-file
fetches (the engine reads grids fully into worker memory anyway, so
chunked range reads — a libproj implementation detail — buy nothing).
State is per-process: the DRIVER resolves and fetches at transform
construction time, and ``grids.resolve_grid_name`` then pins the
downloaded file's absolute cache path into the step closure.  At
cluster scale, either point ``PROJ_SPARK_GRID_CACHE`` at a shared
filesystem or pre-ship grids via ``--py-files`` (the zero-network path
the packaging test pins); executors never fetch implicitly.

Networking is DISABLED by default, exactly like the reference — no
HTTP request is ever issued unless ``enable_network(True)`` ran in the
process (tests use a loopback ``http://127.0.0.1`` fixture endpoint;
nothing in the repo's test or bench path touches a real network).
"""

from __future__ import annotations

import http.client
import os
import time
import socket
import urllib.error
import urllib.request

__all__ = [
    "DownloadError",
    "enable_network",
    "is_network_enabled",
    "set_url_endpoint",
    "get_url_endpoint",
    "grid_cache_enable",
    "grid_cache_set_max_size",
    "fetch_grid",
    "get_wait_time",
    "MAX_RETRIES",
    "RETRY_CODES",
    "DEFAULT_ENDPOINT",
    "DEFAULT_CACHE_MAX_BYTES",
]

MAX_RETRIES = 8                        # src/network.rs:32
RETRY_CODES = frozenset({429, 500, 502, 504})  # src/network.rs:34-35
DEFAULT_ENDPOINT = "https://cdn.proj.org"      # libproj's default CDN
DEFAULT_CACHE_MAX_BYTES = 300 * 1024 * 1024    # src/proj.rs:421-423
_CLIENT = "proj-spark/0.6"             # the reference sends proj-rs/<ver>

_ENABLED = False
_ENDPOINT = DEFAULT_ENDPOINT
_CACHE_ENABLED = True
_CACHE_MAX_BYTES = DEFAULT_CACHE_MAX_BYTES


class DownloadError(OSError):
    """Grid download failed (ProjError::DownloadError analog —
    carries status, url and the retry count, src/network.rs:154-166)."""

    def __init__(self, status, url: str, retries: int):
        super().__init__(f"download of {url!r} failed with status "
                         f"{status} after {retries} retries")
        self.status = status
        self.url = url
        self.retries = retries


def enable_network(enable: bool) -> bool:
    """Switch grid download on/off for this process (ProjBuilder::
    enable_network, src/proj.rs:370-383).  Returns the new state."""
    global _ENABLED
    _ENABLED = bool(enable)
    return _ENABLED


def is_network_enabled() -> bool:
    """ProjBuilder::network_enabled (src/proj.rs:342-345)."""
    return _ENABLED


def set_url_endpoint(endpoint: str) -> None:
    """ProjBuilder::set_url_endpoint (src/proj.rs:433-440)."""
    global _ENDPOINT
    _ENDPOINT = str(endpoint).rstrip("/")


def get_url_endpoint() -> str:
    """ProjBuilder::get_url_endpoint (src/proj.rs:349-353)."""
    return _ENDPOINT


def grid_cache_enable(enable: bool) -> None:
    """Enable/disable the bounded on-disk download cache
    (ProjBuilder::grid_cache_enable, src/proj.rs:417-431).  With the
    cache off every fetch re-downloads (the reference KAT disables it
    for exactly that reason, src/proj.rs:1615-1617)."""
    global _CACHE_ENABLED
    _CACHE_ENABLED = bool(enable)


def grid_cache_set_max_size(max_bytes: int) -> None:
    """Size the cache bound (default 300 MB, the libproj default the
    reference documents at src/proj.rs:421-423)."""
    global _CACHE_MAX_BYTES
    _CACHE_MAX_BYTES = int(max_bytes)


def cache_dir() -> str:
    """User-writable cache directory (libproj's "user writable
    directory" analog); override with ``PROJ_SPARK_GRID_CACHE`` — at
    cluster scale point it at a shared filesystem."""
    return os.environ.get(
        "PROJ_SPARK_GRID_CACHE",
        os.path.join(os.path.expanduser("~"), ".cache", "proj_spark",
                     "grids"))


def get_wait_time(retrycount: int) -> float:
    """Quadratically-increasing wait in SECONDS (get_wait_time,
    src/network.rs:124-131: ``retries^2 * 100 ms``, 0 before the first
    retry; 8 retries => 6.4 s final wait, 25.5 s cumulative)."""
    if retrycount <= 0:
        return 0.0
    return (retrycount ** 2) * 0.1


_sleep = time.sleep  # test seam: retry tests stub this out


def _do_request(url: str, timeout: float):
    """One GET.  Returns (status, body-bytes); HTTP error statuses come
    back as statuses, transport failures raise URLError."""
    req = urllib.request.Request(url, headers={"User-Agent": _CLIENT})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return int(resp.status), resp.read()
    except urllib.error.HTTPError as e:
        body = b""
        try:
            body = e.read()
        except Exception:
            pass
        return int(e.code), body


def request_with_retries(url: str, timeout: float = 30.0,
                         _request=None) -> bytes:
    """GET with the reference's retry loop (request_with_retries,
    src/network.rs:133-171): retry 5xx + {429,500,502,504} with
    quadratic backoff up to MAX_RETRIES; other 4xx fail immediately;
    exhausted retries raise with the final status."""
    request = _request or _do_request

    def _attempt():
        # transport failures (DNS, refused connection, timeout) are as
        # transient as a 5xx: map them to a retryable pseudo-status so
        # they get the same backoff, and to DownloadError (not a raw
        # URLError) on exhaustion — callers catch DownloadError to fall
        # through to packaged grids
        try:
            return request(url, timeout)
        except (urllib.error.URLError, TimeoutError, ConnectionError,
                socket.error, http.client.HTTPException) as e:
            # HTTPException covers truncated/garbled responses
            # (IncompleteRead, BadStatusLine) — as transient as a 5xx
            return f"transport error ({e})", b""

    retries = 0
    status, body = _attempt()

    def _retryable(s) -> bool:
        if isinstance(s, str):
            return True
        return 500 <= s < 600 or s in RETRY_CODES

    if _retryable(status):
        while _retryable(status) and retries < MAX_RETRIES:
            retries += 1
            _sleep(get_wait_time(retries))
            status, body = _attempt()
    elif 400 <= status < 500:
        raise DownloadError(status, url, retries)
    if isinstance(status, str) or not (200 <= status < 300):
        raise DownloadError(status, url, retries)
    return body


def _evict_to_bound(d: str, incoming: int) -> None:
    """Drop least-recently-used cache entries until the incoming file
    fits inside the bound (the 300 MB cache analog)."""
    try:
        entries = [(os.path.join(d, fn),) for fn in os.listdir(d)]
    except FileNotFoundError:
        return
    stats = []
    total = 0
    for (p,) in entries:
        try:
            st = os.stat(p)
        except OSError:
            continue
        stats.append((st.st_mtime, st.st_size, p))
        total += st.st_size
    stats.sort()  # oldest first
    for mtime, size, p in stats:
        if total + incoming <= _CACHE_MAX_BYTES:
            break
        try:
            os.unlink(p)
            total -= size
        except OSError:
            pass


def fetch_grid(name: str, timeout: float = 30.0) -> str:
    """Fetch ``<endpoint>/<name>`` into the bounded cache and return
    the local path.  Raises if networking is disabled (the engine
    NEVER fetches implicitly — enable_network is the explicit opt-in,
    matching the reference's off-by-default contract)."""
    if not _ENABLED:
        raise DownloadError("network disabled", f"{_ENDPOINT}/{name}", 0)
    if os.path.sep in name or name.startswith("."):
        raise ValueError(f"grid name must be a bare filename: {name!r}")
    d = cache_dir()
    dest = os.path.join(d, name)
    if _CACHE_ENABLED and os.path.exists(dest):
        os.utime(dest)  # LRU touch
        return dest
    body = request_with_retries(f"{_ENDPOINT}/{name}", timeout=timeout)
    os.makedirs(d, exist_ok=True)
    if _CACHE_ENABLED:
        _evict_to_bound(d, len(body))
    # disabling the cache disables the LOOKUP (every fetch re-downloads,
    # the reference-KAT semantics, src/proj.rs:1615-1617); the file is
    # still written because callers need a path to open
    tmp = dest + ".part"
    with open(tmp, "wb") as f:
        f.write(body)
    os.replace(tmp, dest)  # atomic: readers never see a torn file
    return dest
