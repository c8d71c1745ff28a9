"""The reference's RTSP full/delta frame store codec
(operators/framestore.py): golden wire layout, malformed input and lazy
decoding."""

from __future__ import annotations


def test_framestore_golden_and_roundtrip():
    """The reference's RTSP full/delta frame store. The golden stream is
    built BY HAND from the format spec (RtspClient.cs AddHeader /
    GetFrameDifferences) so encode is checked against the wire layout
    itself, not against this repo's own decoder."""
    import struct

    from iot_database_spark.operators import framestore as fs

    f0 = bytes(range(16))
    f1 = bytearray(f0)
    f1[1], f1[3] = 99, 77  # 2 patches = 10-byte diff < 16-byte frame
    f1 = bytes(f1)
    f2 = f1  # identical -> zero-patch difference record
    golden = (
        struct.pack("<BI", 1, 16) + f0
        + struct.pack("<BI", 0, 10)
        + struct.pack("<IB", 1, 99) + struct.pack("<IB", 3, 77)
        + struct.pack("<BI", 0, 0)
    )
    assert fs.encode_frames([f0, f1, f2]) == golden
    assert list(fs.decode_frames(golden)) == [f0, f1, f2]

    # diff not smaller than the frame -> full frame, counter resets
    g0 = bytes([1, 2, 3, 4])
    g1 = bytes([9, 8, 7, 4])  # 3 changed bytes = 15-byte diff > 4
    enc = fs.encode_frames([g0, g1])
    assert enc == struct.pack("<BI", 1, 4) + g0 + struct.pack("<BI", 1, 4) + g1

    # full frame every FULL_FRAME_INTERVAL difference frames: frame k
    # differs from frame k-1 in one byte, so fulls land exactly where
    # the reference's counter (incremented on deltas only) resets
    frames = [bytes([i] + [0] * 63) for i in range(25)]
    enc = fs.encode_frames(frames)
    kinds = [is_full for is_full, _ in fs.iter_records(enc)]
    assert kinds == [i % (fs.FULL_FRAME_INTERVAL + 1) == 0 for i in range(25)]
    assert list(fs.decode_frames(enc)) == frames

    # size change forces a full frame (the reference differ would crash)
    mixed = [bytes(8), bytes(12), bytes(12)]
    enc = fs.encode_frames(mixed)
    assert [k for k, _ in fs.iter_records(enc)] == [True, True, False]
    assert list(fs.decode_frames(enc)) == mixed

    # random-ish round-trip, patch indices spanning >255 (4-byte LE)
    import random

    rng = random.Random(11)
    seq = [bytes(rng.randrange(256) for _ in range(400))]
    for _ in range(30):
        nxt = bytearray(seq[-1])
        for _ in range(rng.randrange(0, 12)):
            nxt[rng.randrange(400)] = rng.randrange(256)
        seq.append(bytes(nxt))
    assert list(fs.decode_frames(fs.encode_frames(seq))) == seq


def test_framestore_rejects_malformed_and_sniffs():
    import struct

    import pytest as _pytest

    from iot_database_spark.operators import framestore as fs

    ok = fs.encode_frames([b"abcd", b"abce"])
    assert fs.sniff(ok)
    # other containers must not sniff as framestore
    for other in (b"GIF89a\x00\x00", b"\xff\xd8\xff\xe0junk",
                  b"RIFF\x00\x00\x00\x00AVI ", b"YUV4MPEG2 ", b""):
        assert not fs.sniff(other)
    # truncated payload / truncated header / delta-first all raise
    with _pytest.raises(ValueError):
        list(fs.decode_frames(ok[:-1]))
    with _pytest.raises(ValueError):
        list(fs.decode_frames(ok + b"\x01"))
    with _pytest.raises(ValueError):
        list(fs.decode_frames(struct.pack("<BI", 0, 0)))
    # record-0 damage fails EAGERLY at the call site (r7 advice): no
    # list() needed — a foreign/truncated blob never hands back a
    # time-bomb generator
    for bad0 in (b"\x01", struct.pack("<BI", 0, 0), struct.pack("<BI", 7, 0),
                 struct.pack("<BI", 1, 99) + b"xy"):
        with _pytest.raises(ValueError):
            fs.decode_frames(bad0)
    # ...but a ZERO-byte blob is a valid zero-frame capture, not an error
    assert list(fs.decode_frames(b"")) == []
    # patch index outside the previous frame
    bad = struct.pack("<BI", 1, 2) + b"ab" + struct.pack("<BI", 0, 5) + struct.pack("<IB", 9, 1)
    with _pytest.raises(ValueError):
        list(fs.decode_frames(bad))
    assert not fs.sniff(ok[:-1])


def test_framestore_decode_is_lazy_generator():
    """Pin the r6-advice laziness contract: decode_frames returns a
    generator (after an eager record-0 header check — see the malformed
    test), the valid prefix of a blob with a corrupt TAIL is fully
    consumable, and the structural error surfaces exactly when iteration
    reaches the bad record — so list(...) is what triggers validation
    past record 0 in the pytest.raises tests above."""
    import types

    import pytest as _pytest

    from iot_database_spark.operators import framestore as fs

    frames = [bytes([i] + [0] * 15) for i in range(5)]
    blob = fs.encode_frames(frames)

    gen = fs.decode_frames(blob + b"\x01")  # corrupt tail: short header
    assert isinstance(gen, types.GeneratorType)
    assert [next(gen) for _ in range(5)] == frames
    with _pytest.raises(ValueError):
        next(gen)
