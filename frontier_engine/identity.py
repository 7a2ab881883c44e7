"""Document-identity kernels, byte-compatible with the reference.

Semantics studied from /root/reference/warc_indexer/indexer/process.py:
- ``urlsafe_b64``   — process.py:309-316 (translate ``/``->``-``, ``+``->``_``,
  drop the trailing ``==`` padding of a 16-byte-UUID base64).
- ``webis_uuid``    — process.py:319-329 (uuid5 over ``prefix:internal_id``).
- ``index_uuid``    — process.py:347-374 (custom time-based UUIDv1: 48-bit
  epoch-millis in time_low/time_mid, stream position in time_hi+clock_seq,
  node = blake2b-3(warc_name) || blake2b-3(doc_id)).  Sorting by it sorts by
  (time mod 2^48, offset) — the engine's deterministic ordering key.
- ``clip_warc_date``— process.py:377-389 (clamp out-of-range day-of-month).
- ``ws_collapse``   — process.py:392-397.

All kernels are pure Python on scalars, called per row inside the Arrow
UDFs of :mod:`frontier_engine.pipeline` and :mod:`frontier_engine.frontier`
(``clip_warc_date_series`` is the one vectorized pandas wrapper) — the same
code path serves the single-node oracle and the Spark pipeline, which is
what makes the byte-identity tests meaningful.
"""

from __future__ import annotations

import re
import uuid
from base64 import b64encode
from calendar import monthrange
from hashlib import blake2b

import pandas as pd

_B64_URLSAFE = str.maketrans({"/": "-", "+": "_"})
_WS_RE = re.compile(r"\s+")
_DATE_RE = re.compile(r"(\d{4})-(\d{2})-(\d+)")


def urlsafe_b64(s: str) -> str:
    """URL-safe base64 variant used for all document IDs (process.py:309-316)."""
    return s.translate(_B64_URLSAFE)


def _uuid_to_b64(u: uuid.UUID) -> str:
    # 16 raw bytes -> 24 base64 chars ending in '=='; drop padding, make URL-safe.
    return urlsafe_b64(b64encode(u.bytes)[:-2].decode("ascii"))


def webis_uuid(corpus_prefix: str, internal_id: str) -> str:
    """Deterministic corpus-scoped document UUID (process.py:319-329).

    uuid5(NAMESPACE_URL, "<prefix>:<internal_id>") encoded as 22-char
    URL-safe base64.
    """
    return _uuid_to_b64(uuid.uuid5(uuid.NAMESPACE_URL, f"{corpus_prefix}:{internal_id}"))


def index_uuid(unix_time_ms: int, stream_pos: int, source_name: str, doc_id: str) -> str:
    """Index-friendly time-ordered UUID (process.py:347-374).

    Field layout (UUIDv1-shaped):
      time_low  = low 32 bits of epoch-millis
      time_mid  = bits 32..47 of epoch-millis
      time_hi   = bits 16..29 of the 32-bit-truncated stream position, version 0x1
      clock_seq = low 16 bits of stream position (variant bits set)
      node      = blake2b(source_name, 3B) || blake2b(doc_id, 3B)
    """
    t = int(unix_time_ms)
    pos = int(stream_pos) & 0xFFFFFFFF
    time_low = t & 0xFFFFFFFF
    time_mid = (t >> 32) & 0xFFFF
    time_hi_version = ((pos >> 16) & 0x3FFF) | 0x1000
    clock_seq_hi_variant = (((pos & 0xFFFF) >> 8) & 0x3F) | 0x80
    clock_seq_low = pos & 0x00FF
    node = int.from_bytes(
        blake2b(source_name.encode(), digest_size=3).digest()
        + blake2b(doc_id.encode(), digest_size=3).digest(),
        "big",
    )
    u = uuid.UUID(fields=(time_low, time_mid, time_hi_version, clock_seq_hi_variant, clock_seq_low, node))
    return _uuid_to_b64(u)


def clip_warc_date(date_val: str) -> str:
    """Clamp out-of-range day-of-month in ISO-ish dates (process.py:377-389).

    '2009-03-82T07:34:44-0700' -> '2009-03-31T07:34:44-0700'.
    """

    def fix(m: re.Match) -> str:
        y, mo, d = m.group(1), m.group(2), m.group(3)
        day = min(int(d), monthrange(int(y), int(mo))[1])
        return f"{y}-{mo}-{day:02}"

    return _DATE_RE.sub(fix, date_val)


def ws_collapse(text: str) -> str:
    """Collapse runs of whitespace to single spaces and trim (process.py:392-397)."""
    return _WS_RE.sub(" ", text).strip()


# ---------------------------------------------------------------- vectorized

def clip_warc_date_series(dates: pd.Series) -> pd.Series:
    return dates.map(clip_warc_date)
