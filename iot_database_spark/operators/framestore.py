"""The reference's RTSP frame-store format: full/delta byte-diff records.

This is the ONE video storage semantic the reference actually ships —
its RTSP client persists captured frames as a sequence of full frames
and sparse byte-level difference frames, and its video collection
replays them back into the raw frame stream:

Record layout (Iot.Database/Video/Clients/RtspClient.cs:190-196
``AddHeader``):

    record  := header(5) + payload
    header[0]    1 = full frame, 0 = difference frame
    header[1:5]  little-endian int32 payload length

Full-frame payload is the raw frame bytes. Difference payload
(RtspClient.cs:170-186 ``GetFrameDifferences``) is a run of 5-byte
patches — little-endian int32 byte index + the new byte value at that
index — relative to the PREVIOUS frame.

Writer policy (RtspClient.cs:132-149): the first frame is full; then
difference frames until ``FullFrameInterval`` (10) of them accumulate,
or a frame whose difference encoding is not smaller than the frame
itself — both reset the counter and write a full frame.

Reader (Iot.Database/Video/VideoCollection.cs:12-56
``ReconstructVideo``): walk records, copy the previous frame, apply
patches.

The codec here is plain stdlib/numpy byte arithmetic (no media
library): encode and decode round-trip bit-identically, and decode
accepts any file the reference writer could produce. One deliberate
divergence, documented: the reference differ indexes the previous frame
by the CURRENT frame's positions and would crash (or silently truncate)
when consecutive frames change size — this encoder writes a full frame
on any size change instead, which the reference reader replays
correctly.

The codec is per-row compute over one blob — no Spark dependency,
constant memory per video blob (decode is a lazy generator).
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

__all__ = [
    "encode_frames",
    "decode_frames",
    "iter_records",
    "sniff",
    "FULL_FRAME_INTERVAL",
]

# RtspClient.cs:21 FullFrameInterval
FULL_FRAME_INTERVAL = 10

_HEADER = struct.Struct("<BI")  # flag byte + little-endian uint32 length
_IDX = struct.Struct("<I")


def _diff_patches(prev: bytes, cur: bytes) -> bytes:
    """Sparse byte-diff payload: 5 bytes (LE int32 index + new value)
    per changed position — RtspClient.cs GetFrameDifferences."""
    import numpy as np

    a = np.frombuffer(prev, dtype=np.uint8)
    b = np.frombuffer(cur, dtype=np.uint8)
    idx = np.flatnonzero(a != b).astype("<u4")
    if idx.size == 0:
        return b""
    # interleave 4 index bytes + 1 value byte per patch, vectorized
    out = np.empty((idx.size, 5), dtype=np.uint8)
    out[:, :4] = idx.view(np.uint8).reshape(-1, 4)
    out[:, 4] = b[idx.astype(np.int64)]
    return out.tobytes()


def encode_frames(
    frames: Iterable[bytes], full_interval: int = FULL_FRAME_INTERVAL
) -> bytes:
    """Encode a frame sequence into the reference's frame-store bytes.

    Mirrors RtspClient.ReceiveData's recording loop: full frame when
    there is no previous frame or `full_interval` difference frames
    have accumulated; otherwise a difference frame unless the diff
    payload is not smaller than the frame (then full, counter reset).
    Size-changed frames also go full (see module docstring)."""
    out = bytearray()
    prev: bytes | None = None
    diff_count = 0
    for frame in frames:
        frame = bytes(frame)
        full = (
            prev is None
            or diff_count >= full_interval
            or len(frame) != len(prev)
        )
        payload = frame
        if not full:
            diff = _diff_patches(prev, frame)
            if len(diff) >= len(frame):
                full = True
            else:
                payload = diff
        out += _HEADER.pack(1 if full else 0, len(payload))
        out += payload
        diff_count = 0 if full else diff_count + 1
        prev = frame
    return bytes(out)


def iter_records(data: bytes) -> Iterator[tuple[bool, bytes]]:
    """Walk (is_full, payload) records, validating structure: a short
    header/payload, a difference record before any full frame, or a
    difference payload that is not a whole number of 5-byte patches all
    raise ValueError — a truncated capture should fail loudly, exactly
    like the reference reader's fixed-size reads would."""
    pos = 0
    n = len(data)
    seen_full = False
    while pos < n:
        if n - pos < _HEADER.size:
            raise ValueError("framestore: truncated record header")
        flag, length = _HEADER.unpack_from(data, pos)
        if flag not in (0, 1):
            raise ValueError(f"framestore: bad frame flag {flag}")
        pos += _HEADER.size
        if n - pos < length:
            raise ValueError("framestore: truncated record payload")
        payload = data[pos : pos + length]
        pos += length
        if flag == 0:
            if not seen_full:
                raise ValueError("framestore: difference frame before any full frame")
            if length % 5:
                raise ValueError("framestore: difference payload not 5-byte patches")
        else:
            seen_full = True
        yield flag == 1, payload


def decode_frames(data: bytes) -> Iterator[bytes]:
    """Replay a frame-store byte stream into the raw frame sequence —
    VideoCollection.ReconstructVideo, but yielding frames instead of
    concatenating them to one output file (the reference writes them
    back-to-back; callers here want the per-frame boundaries that the
    record structure preserves).

    A GENERATOR, not a list (r6 advice): replay state is only the
    previous frame, so a consumer that subsamples (frame_sample's
    every_n) never holds more than one decoded frame of a long
    sparse-delta capture — decoded size can vastly exceed blob size,
    and materializing it would contradict the constant-memory claim.
    Structural errors raise lazily at iteration, like any generator —
    EXCEPT the first record's header, which is validated eagerly below
    (r7 advice): a truncated or foreign blob then fails at the decode
    call site instead of wherever the unconsumed generator finally
    lands, while the laziness contract for everything past record 0 is
    untouched (pinned by the counting-wrapper test)."""
    if len(data) == 0:
        return _decode_frames_lazy(data)  # zero-frame capture: empty replay
    if len(data) < _HEADER.size:
        raise ValueError("framestore: truncated record header")
    flag0, length0 = _HEADER.unpack_from(data, 0)
    if flag0 != 1:
        raise ValueError(
            "framestore: difference frame before any full frame"
            if flag0 == 0
            else f"framestore: bad frame flag {flag0}"
        )
    if len(data) - _HEADER.size < length0:
        raise ValueError("framestore: truncated record payload")
    return _decode_frames_lazy(data)


def _decode_frames_lazy(data: bytes) -> Iterator[bytes]:
    prev: bytearray | None = None
    for is_full, payload in iter_records(data):
        if is_full:
            prev = bytearray(payload)
        else:
            assert prev is not None  # iter_records enforces full-first
            cur = bytearray(prev)
            for off in range(0, len(payload), 5):
                (idx,) = _IDX.unpack_from(payload, off)
                if idx >= len(cur):
                    raise ValueError(
                        f"framestore: patch index {idx} outside frame "
                        f"of {len(cur)} bytes"
                    )
                cur[idx] = payload[off + 4]
            prev = cur
        yield bytes(prev)


def sniff(data: bytes) -> bool:
    """Structural detection: the format has no magic bytes (the
    reference writes records from byte 0), so recognize it by the only
    reliable signal — the first record must be a full frame and the
    record chain must consume the blob exactly. Every other container
    this engine handles declares itself in byte 0-8 (GIF/YUV4MPEG2/
    JPEG SOI/RIFF/ftyp), none of which start with 0x00/0x01, so a
    correct walk here is unambiguous in practice."""
    if len(data) < _HEADER.size or data[0] != 1:
        return False
    try:
        return sum(1 for _ in iter_records(data)) > 0
    except ValueError:
        return False
